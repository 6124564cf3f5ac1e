package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.streaming.EventStreams

/** The testdata generator has already changed the physical encoding of
  * `events.ts` once (TIMESTAMP(NANOS)-as-long → timestamp[us] NTZ, which
  * cost round 11 three queries and four specs). This spec freezes the
  * contract: whatever of the three plausible parquet encodings the
  * generator ships, `Tables.apply` and `EventStreams.readEvents` must
  * produce the identical TIMESTAMP column, byte-for-byte, so every
  * downstream query (q33/q64/q70, streaming sessionizer) is
  * encoding-oblivious.
  */
class EventTsEncodingSpec extends SparkSpec with JobCounting {

  /** Write the sf0.001 events table under `ts` encoded as: raw int64
    * nanos (what nanosAsLong=true yields for TIMESTAMP(NANOS) files),
    * TIMESTAMP_NTZ (timestamp[us] isAdjustedToUTC=false), and session-tz
    * TIMESTAMP (timestamp[us] UTC-adjusted). Values are identical micros
    * in all three — only the physical/logical encoding differs.
    */
  private lazy val encodedDirs: Map[String, String] = {
    val canonical = Tables(spark, sfDir, "events") // TimestampType ts
    def writeAs(tag: String)(f: DataFrame => DataFrame): (String, String) = {
      val dir = Files.createTempDirectory(s"events-$tag-").toString
      f(canonical).write.mode("overwrite").parquet(s"$dir/events.parquet")
      tag -> dir
    }
    Map(
      writeAs("nanos")(_.withColumn("ts", unix_micros(col("ts")) * lit(1000L))),
      writeAs("ntz")(_.withColumn("ts", col("ts").cast(TimestampNTZType))),
      writeAs("utc")(identity))
  }

  test("Tables.apply yields TimestampType ts under all three encodings") {
    for ((tag, dir) <- encodedDirs) {
      val dt = Tables(spark, dir, "events").schema("ts").dataType
      assert(dt == TimestampType, s"encoding=$tag read back as $dt")
    }
  }

  test("Tables.apply opens every encoding with no job and the inferred " +
      "schema") {
    for ((tag, dir) <- encodedDirs) {
      var df: DataFrame = null
      val n = jobs { df = Tables(spark, dir, "events") }
      assert(n == 0, s"encoding=$tag: opening ran $n jobs")
      val inferred = spark.read.parquet(s"$dir/events.parquet")
      assert(df.schema == Tables.normalizeEventTs(inferred).schema,
        s"encoding=$tag")
    }
  }

  test("q33 sessionize output is identical under all three encodings") {
    val q33 = SparkEntry.queries("q33_sessionize")
    val results = encodedDirs.map { case (tag, dir) =>
      tag -> q33(spark, dir)
        .orderBy("user_id", "session").collect().toSeq
    }
    val (refTag, ref) = results.head
    assert(ref.nonEmpty)
    for ((tag, rows) <- results.tail)
      assert(rows == ref, s"encoding=$tag differs from $refTag")
  }

  test("streaming readEvents resolves ts to TIMESTAMP for every encoding") {
    for ((tag, dir) <- encodedDirs) {
      val dt = EventStreams.readEvents(spark, s"$dir/events.parquet")
        .schema("ts").dataType
      assert(dt == TimestampType, s"encoding=$tag streamed as $dt")
    }
  }

  test("streaming readEvents: an empty landing dir takes the declared " +
      "schema; a missing one fails with PATH_NOT_FOUND") {
    val empty = Files.createTempDirectory("landing-").toString
    val df = EventStreams.readEvents(spark, empty)
    assert(df.columns.toSeq == EventStreams.eventSchema.fieldNames.toSeq)
    assert(df.schema("ts").dataType == TimestampType)
    val e = intercept[AnalysisException] {
      EventStreams.readEvents(spark, s"$empty/missing")
    }
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("normalizeEventTs branches cover long, NTZ and timestamp inputs") {
    import spark.implicits._
    val micros = 1700000000123456L
    val asLong = Seq(micros * 1000L).toDF("ts")
    val asTs = asLong.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val asNtz = asTs.withColumn("ts", col("ts").cast(TimestampNTZType))
    assert(asLong.schema("ts").dataType == LongType)
    assert(asNtz.schema("ts").dataType == TimestampNTZType)
    val outs = Seq(asLong, asNtz, asTs).map { df =>
      Tables.normalizeEventTs(df)
        .select(unix_micros(col("ts"))).as[Long].head()
    }
    assert(outs == Seq(micros, micros, micros))
  }
}
