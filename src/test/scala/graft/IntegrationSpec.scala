package graft

import java.nio.file.Files

import graft.api.MapReduce
import graft.sources.JsonLines

/** End-to-end shape of a reference job: directory of raw text lines in,
  * user map/reduce over them, `[key, value]` JSON-lines out — the full
  * compatibility path a migrating user exercises
  * (/root/reference/README.txt:236-299 template flow).
  */
class IntegrationSpec extends SparkSpec {

  test("text dir -> MapReduce token count -> kv JSON-lines roundtrip") {
    import spark.implicits._
    val base = tempPath("e2e_")
    val in = base.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("part-0.txt"), "a b a\nc b\n")
    Files.writeString(in.resolve("part-1.txt"), "a c\n\n")

    // map: line -> (token, 1); reduce: sum — the reference's worked
    // example (/root/reference/README.txt:18)
    val lines = spark.read.textFile(in.toString)
    val counted = MapReduce.run[String, String, Long, (String, Long)](
      lines,
      l => l.split(" ").iterator.filter(_.nonEmpty).map((_, 1L)),
      (t, ones) => Iterator.single((t, ones.sum)))

    val out = base.resolve("out").toString
    JsonLines.writeKv(
      counted.toDF("key", "cnt")
        .selectExpr("key", "CAST(cnt AS STRING) AS value_json"),
      out)

    val back = JsonLines.readKv(spark, Seq(out))
      .collect().map(r => (r.getString(0), r.getString(1).toLong)).toMap
    assert(back == Map("a" -> 3L, "b" -> 2L, "c" -> 2L))

    // and the files really are [key, value] JSON arrays
    val raw = spark.read.textFile(out).collect().sorted
    assert(raw.forall(l => l.startsWith("[\"") && l.endsWith("]")))
  }

  test("downsampled file list feeds the same pipeline (reference testing story)") {
    import spark.implicits._
    val base = tempPath("e2e_ds_")
    val paths = (0 until 10).map { i =>
      val p = base.resolve(s"f$i.txt")
      Files.writeString(p, s"tok$i\n")
      p.toString
    }
    val sampled = MapReduce.downsampleFiles(paths, 0.5)
    assert(sampled.nonEmpty && sampled.size < 10)
    val lines = spark.read.textFile(sampled: _*)
    assert(lines.count() == sampled.size)
  }
}
