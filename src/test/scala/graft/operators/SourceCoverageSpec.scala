package graft.operators

import graft.SparkSpec

class SourceCoverageSpec extends SparkSpec {

  test("raw-text staging survives tabs and newlines embedded in text") {
    import spark.implicits._
    // a tab would truncate the parse at field 2; a newline would split one
    // doc across two lines — staging normalizes both to spaces
    val docs = Seq(
      (1L, "hello\tworld and\nmore"),
      (2L, "plain text here")).toDF("doc_id", "text")
    val staged = tempPath("graft_rawtext_").toString
    val r = SourceCoverage.rawTextTokenCounts(spark, docs, staged)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 4L, 2L -> 3L))
  }

  test("jdbc round-trip: values survive, partitioned read, filter pushed to the DB") {
    import spark.implicits._
    System.setProperty("derby.stream.error.file",
      s"${sys.props("java.io.tmpdir")}/graft_derby.log")
    val db = tempPath("graft_jdbc_").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    // strings included deliberately: Derby maps StringType to CLOB on
    // write; the read path must still surface them as strings
    val in = Seq((1L, "alpha", 10.5), (2L, "beta", -3.25),
      (3L, "gamma", 0.0), (4L, "delta", 7.75))
      .toDF("id", "name", "bal")
    in.write.mode("overwrite").jdbc(url, "t_rt", props)
    val back = spark.read.jdbc(url, "t_rt", "id", 1L, 5L, 2, props)
    assert(back.rdd.getNumPartitions == 2) // the parallel-read contract
    val rows = back.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == Set((1L, "alpha", 10.5), (2L, "beta", -3.25),
      (3L, "gamma", 0.0), (4L, "delta", 7.75)))
    // numeric predicate reaches the database, not just the Spark filter
    val plan = back.filter($"bal" > 0).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(bal,0.0)"),
      s"filter not pushed to JDBC scan:\n$plan")
    // overwrite is drop-and-recreate: second write does not duplicate
    in.write.mode("overwrite").jdbc(url, "t_rt", props)
    assert(spark.read.jdbc(url, "t_rt", props).count() == 4L)
  }
}
