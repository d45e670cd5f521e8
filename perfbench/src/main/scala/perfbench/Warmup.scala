package perfbench

import org.apache.spark.sql.SparkSession

/** Set-up work that touches no workload query and no workload table:
  * JIT and class loading are charged to set-up, while every workload
  * query still pays its own cold codegen, as a new query does for a user. */
object Warmup {

  /** Parquet, JSON, shuffle, join, window, typed-Dataset and streaming
    * paths (default and RocksDB state stores), on the warm-up's own files
    * under the scratch directory `dir`. */
  def run(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    val base = spark.range(20000).selectExpr("id", "id % 7 AS g", "id * 0.5 AS v",
      "cast(id AS string) AS s", "timestamp_seconds(id * 60) AS ts")
    base.write.mode("overwrite").parquet(s"$dir/warmup.parquet")
    base.write.mode("overwrite").json(s"$dir/warmup.json")
    val t = spark.read.parquet(s"$dir/warmup.parquet")
    t.groupBy("g").agg(expr("sum(v)"), expr("count(distinct s)"), expr("max(ts)"))
      .join(spark.read.json(s"$dir/warmup.json").select("g", "s"), "g")
      .selectExpr("g", "rank() OVER (PARTITION BY g ORDER BY s) AS r")
      .where("r <= 3").orderBy("g", "r").collect()
    // typed map with tuple encoders: loads Scala reflection and the
    // encoder machinery that Dataset-based queries share
    t.select("id", "s").as[(Long, String)]
      .map { case (id, str) => (id % 7, str.length.toLong) }
      .toDF("g", "n").groupBy("g").sum("n").orderBy("g").collect()
    // the same stateful stream on each state store: loads the RocksDB
    // native library, as a session's first RocksDB query would
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val session = spark.conf.getOption(provider)
    val stores = Seq(session,
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    for ((store, i) <- stores.zipWithIndex) {
      store.foreach(spark.conf.set(provider, _))
      try spark.readStream.schema(t.schema).parquet(s"$dir/warmup.parquet")
        .groupBy("g").count()
        .writeStream.format("memory").queryName(s"perfbench_warmup_$i")
        .outputMode("complete").option("checkpointLocation", s"$dir/warmup$i.ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      finally session.fold(spark.conf.unset(provider))(spark.conf.set(provider, _))
    }
  }

  /** The fixed compute-bound plan of `graft.Bench`'s calibration: an
    * in-memory range, no IO and no fixture. Its time is run metadata that
    * makes a slow machine window visible; nothing is normalised by it. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.expr
    val t0 = System.nanoTime()
    spark.range(40000000L)
      .selectExpr("id % 7 AS g", "id % 1000 AS v", "id % 97 AS w")
      .groupBy("g")
      .agg(expr("sum(v * w)"), expr("avg(v)"), expr("count(distinct w)"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }
}
