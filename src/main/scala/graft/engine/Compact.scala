package graft.engine

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB dataset needs: streaming ingestion and per-batch sinks leave
  * thousands of KB-scale files whose per-file open/footer cost comes to
  * dominate scan time. Compaction rewrites a directory into files of
  * roughly `targetBytes` (the 128 MB scan-partition sweet spot by
  * default), preserving rows exactly.
  *
  * Sizing uses the INPUT byte size (cheap file listing, no data read) —
  * output files land near the target for similar codecs. repartition()
  * is a full shuffle by design: round-robin rebalancing is what evens
  * out skewed input files; at cluster scale this runs per partition of a
  * date-partitioned table, not over the whole dataset at once.
  */
object Compact {

  /** Rewrite `inDir` (parquet) into `outDir` as ~`targetBytes` files.
    * Returns the number of output data files. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(conf)
    // overwrite mode DELETES outDir before the lazy read of inDir runs —
    // an in-place (or nested) call would destroy the source data.
    // Identity: paths overlap AND the two URIs plausibly name the same
    // store — same scheme and same host, each path qualified against its
    // OWN filesystem. Ports are deliberately IGNORED (hdfs://nn:8020 vs
    // hdfs://nn is the same namenode spelled two ways — treating them as
    // distinct would let the overwrite destroy the source); distinct
    // stores with equal paths (s3://a/data vs s3://b/data) differ by
    // host and are allowed. A host aliased as FQDN vs IP is not
    // detectable without name resolution — callers using mixed spellings
    // for one cluster must normalize them.
    val out = new org.apache.hadoop.fs.Path(outDir)
    val outFs = out.getFileSystem(conf)
    val uIn = fs.makeQualified(in).toUri
    val uOut = outFs.makeQualified(out).toUri
    def norm(s: String): String =
      Option(s).map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
    val sameStore = norm(uIn.getScheme) == norm(uOut.getScheme) &&
      norm(uIn.getHost) == norm(uOut.getHost)
    val pIn = uIn.getPath.stripSuffix("/")
    val pOut = uOut.getPath.stripSuffix("/")
    val overlap = pIn == pOut || pOut.startsWith(pIn + "/") ||
      pIn.startsWith(pOut + "/")
    require(!(sameStore && overlap),
      s"outDir must not be inDir or nested with it (in=$uIn out=$uOut)")
    val inputBytes = fs.getContentSummary(in).getLength
    val parts = math.max(1L, (inputBytes + targetBytes - 1) / targetBytes).toInt
    Tables.parquet(spark, inDir)
      .repartition(parts)
      .write.mode("overwrite").parquet(outDir)
    outFs.listStatus(out).count(st => st.getPath.getName.startsWith("part-")).toLong
  }
}
