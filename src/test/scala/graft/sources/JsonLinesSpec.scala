package graft.sources

import java.nio.file.Files

import graft.SparkSpec

class JsonLinesSpec extends SparkSpec {

  test("write/read roundtrip with gzip compression and file roll") {
    import spark.implicits._
    val dir = tempPath("jsonl_").toString + "/out"
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    JsonLines.write(df.repartition(1), dir, maxRecordsPerFile = 30,
      compress = true)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.length == 4) // 100 records rolled every 30
    val back = JsonLines.read(spark, Seq(dir))
    assert(back.count() == 100)
    assert(back.selectExpr("sum(id)").as[Long].head() == 5050L)
  }

  test("multi-dir read is an implicit UNION ALL") {
    import spark.implicits._
    val d1 = tempPath("jsonl_a").toString + "/a"
    val d2 = tempPath("jsonl_b").toString + "/b"
    JsonLines.write(Seq((1L, "x")).toDF("id", "v"), d1)
    JsonLines.write(Seq((2L, "y")).toDF("id", "v"), d2)
    assert(JsonLines.read(spark, Seq(d1, d2)).count() == 2)
  }

  test("corrupt lines are quarantined, clean rows keep flowing") {
    import spark.implicits._
    val dir = tempPath("jsonl_c")
    Files.writeString(dir.resolve("part-0.json"),
      """{"id": 1, "v": "ok"}
        |this is not json {{{
        |{"id": 2, "v": "also ok"}
        |""".stripMargin)
    val raw = JsonLines.read(spark, Seq(dir.toString))
    val (clean, corrupt) = JsonLines.quarantine(raw)
    assert(clean.count() == 2)
    assert(corrupt.as[String].collect().toList == List("this is not json {{{"))
  }

  test("kv format: [key, value] arrays roundtrip") {
    import spark.implicits._
    val dir = tempPath("jsonl_kv").toString + "/kv"
    val pairs = Seq(("tok", "3"), ("other", "{\"n\": 7}"))
      .toDF("key", "value_json")
    JsonLines.writeKv(pairs, dir)
    val back = JsonLines.readKv(spark, Seq(dir)).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(back("tok") == "3")
    assert(back("other").replaceAll("\\s", "") == "{\"n\":7}")
  }
}
