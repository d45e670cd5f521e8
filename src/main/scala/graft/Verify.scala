package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (builder iteration only; the driver passes two):
    // comma-separated query names — verify just those
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    def keep(name: String): Boolean = subset.forall(_.contains(name))
    val spark = Harness.session(
      defaultCpus = math.min(Runtime.getRuntime.availableProcessors(), 16))
    // recursive delete, tolerant of files vanishing mid-walk (listFiles
    // returns null for a dir deleted under us — e.g. a task-abort
    // cleaning its _temporary dir concurrently)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
      }
      f.delete(); ()
    }
    // clean stale per-query dirs (renamed/removed queries would otherwise
    // linger and confuse the compare), and any .abandoned_* dirs a prior
    // run's watchdog parked next to the output dir
    val outFile = new java.io.File(outDir)
    if (outFile.exists()) rm(outFile)
    outFile.mkdirs()
    Option(outFile.getAbsoluteFile.getParentFile)
      .flatMap(p => Option(p.listFiles())).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".abandoned_"))
      .foreach(f => try rm(f) catch { case _: Throwable => () })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json FIRST: it depends only on SparkEntry.oracleSql, so
    // writing it before any query runs means a driver-side timeout or
    // kill mid-run still leaves a comparable partial result (per-query
    // parquet dirs flush as each query completes) instead of zeroing the
    // round's entire correctness attestation.
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sorted order (same as Bench): a timed-out partial run then loses a
    // deterministic tail instead of a hash-order-random subset, and the
    // per-query stderr times line up across rounds.
    // Harness.runOne's stall watchdog bounds each query: without it, one
    // wedged query eats the driver's whole verify budget and the round
    // loses every query after it; a timed-out query records as _FAILED
    // and the rest of the catalog still gets attested.
    val perQueryTimeoutMs = sys.env
      .getOrElse("SPARK_GRAFT_VERIFY_TIMEOUT_SEC", "300").toLong * 1000
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val run = Harness.runOne(spark, name, perQueryTimeoutMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      run.error match {
        case None =>
          System.err.println(f"[verify] $name ok ${run.seconds}%.1fs")
        case Some(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // drop any partial output dir: a half-written parquet dir
          // would crash the comparer's read; the _FAILED marker alone
          // records the failure. If the worker somehow survived the
          // interrupt, don't race its writer with a recursive delete —
          // rename the dir OUT of the compare set instead (best effort;
          // all of this is defensive and must never kill the main loop)
          try {
            val partial = new java.io.File(s"$outDir/$name")
            if (partial.exists()) {
              if (run.zombie)
                partial.renameTo(new java.io.File(
                  outFile.getAbsoluteFile.getParentFile, s".abandoned_$name"))
              else rm(partial)
            }
          } catch { case _: Throwable => () }
          // failure marker: a crashed query must read as FAIL downstream,
          // not silently vanish from the comparison
          Files.writeString(Paths.get(s"$outDir/$name._FAILED"),
            String.valueOf(e.getMessage))
      }
    }
    // Attestation-completeness gate: every query in the catalog must leave
    // a trace in outDir — either a result parquet dir or a _FAILED marker.
    // In round 6 the fixture regenerated mid-round, 8 queries crashed, and
    // their rows simply VANISHED from the correctness artifact with no
    // signal anywhere; this line makes a silent shrink impossible (driver
    // keeps the stdout/stderr tail, and tools/check.py counts markers).
    val expected = SparkEntry.queries.keySet.filter(keep)
    val attested = Option(outFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).toSet
    val missing = missingAttestations(expected, attested)
    if (missing.nonEmpty)
      System.err.println(
        s"MISSING ATTESTATION: ${missing.mkString(",")}")
    else
      System.err.println(
        s"[verify] attestation complete: ${expected.size} queries")
    spark.stop()
  }

  /** Names in `expected` with neither a result dir nor a `._FAILED`
    * marker among `outDirEntries` — the silent-shrink detector, kept as
    * a pure function so the spec can pin its behavior. */
  def missingAttestations(expected: Set[String],
      outDirEntries: Set[String]): Seq[String] =
    expected.diff(outDirEntries.map(_.stripSuffix("._FAILED")))
      .toSeq.sorted
}
