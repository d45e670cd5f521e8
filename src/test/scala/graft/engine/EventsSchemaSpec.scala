package graft.engine

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkSpec

/** Events-schema contract: `Tables.load` yields `ts: TimestampType` (UTC)
  * with identical values no matter which physical shape the fixture
  * parquet ships in. The driver has regenerated events.parquet with a
  * different encoding mid-round twice (TIMESTAMP(NANOS) in rounds 1-5,
  * isAdjustedToUTC=false micros in round 6 — which silently broke all 8
  * event-time queries); this spec makes the next regeneration a non-event.
  *
  * The shared test session deliberately does NOT set
  * spark.sql.parquet.inferTimestampNTZ.enabled=false (GraftSession does),
  * so the NTZ write here really arrives as TIMESTAMP_NTZ and exercises
  * the normalizeEventTime cast branch, not just the session conf.
  */
class EventsSchemaSpec extends SparkSpec {

  // three known instants, micros since epoch (UTC)
  private val micros = Seq(1700000000000000L, 1700000123456789L, 999999999999L)

  private def loadFrom(writeTo: java.io.File => Unit): Seq[Long] = {
    val dir = tempPath("events_schema_").toFile
    writeTo(dir)
    val df = Tables.load(spark, dir.getAbsolutePath, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"contract: ts must load as TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
  }

  test("ts loads as TimestampType with identical values across parquet shapes") {
    import spark.implicits._
    val base = micros.toDF("us")

    // shape 1: proper TIMESTAMP (isAdjustedToUTC=true micros)
    val asTimestamp = loadFrom { d =>
      base.select(timestamp_micros(col("us")).as("ts"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    // shape 2: isAdjustedToUTC=false micros (round-6 fixture shape) —
    // arrives as TIMESTAMP_NTZ in this session
    val asNtz = loadFrom { d =>
      base.select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    // shape 3: nanos-as-long (rounds 1-5 fixture shape under
    // spark.sql.legacy.parquet.nanosAsLong — a plain INT64 column reads
    // back as LongType exactly like TIMESTAMP(NANOS) does)
    val asNanosLong = loadFrom { d =>
      base.select((col("us") * 1000L).as("ts"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }

    val expected = micros.sorted
    assert(asTimestamp == expected)
    assert(asNtz == expected)
    assert(asNanosLong == expected)
  }

  test("NTZ read really exercises the cast branch (session infers NTZ)") {
    import spark.implicits._
    val dir = tempPath("events_schema_ntz_").toFile
    micros.toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    assert(raw.schema("ts").dataType == TimestampNTZType,
      "precondition lost: test session no longer infers NTZ — the cast " +
        "branch in Tables.normalizeEventTime is untested")
  }
}
