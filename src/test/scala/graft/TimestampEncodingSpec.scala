package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.core.Tables
import graft.operators.Events
import graft.streaming.Streams

/** The driver's testdata has changed its timestamp encoding between
  * generations (int64 nanos → naive timestamp[us]); a naive
  * timestamp[us] column reads as TIMESTAMP_NTZ in a stock Spark 4
  * session, and `cast(ntz as double)` / `percentile(ts, …)` /
  * watermarks then fail or drift. Our own sessions
  * ([[graft.core.Session]]) pin
  * `spark.sql.parquet.inferTimestampNTZ.enabled=false`, but the
  * driver's smoke session is NOT ours — these tests run a session
  * withOUT that conf (the hostile configuration) and pin that the
  * [[Tables]] accessors insulate every consumer from the file
  * encoding. */
class TimestampEncodingSpec extends SparkSpecBase {
  override val Sf = "/root/testdata/sf0.001"

  // a session that reads naive parquet timestamps as NTZ — what a
  // driver-owned SparkSession looks like without our conf line
  private lazy val ntzSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    s
  }

  test("Tables normalizes ts/o_orderdate/l_shipdate to TimestampType under an NTZ session") {
    val raw = ntzSession.read.parquet(s"$Sf/events.parquet")
    // precondition, not an assertion: if the driver changes the
    // encoding again (zoned, or back to int64 nanos) this scenario
    // no longer exists — cancel instead of failing
    assume(raw.schema("ts").dataType == TimestampNTZType,
      "testdata no longer NTZ-encoded; scenario vacuous")
    val t = Tables(ntzSession, Sf)
    assert(t.events.schema("ts").dataType == TimestampType)
    assert(t.orders.schema("o_orderdate").dataType == TimestampType)
    assert(t.lineitem.schema("l_shipdate").dataType == TimestampType)
  }

  test("epoch-arithmetic query agrees between NTZ and LTZ sessions (UTC pins the values)") {
    val raw = ntzSession.read.parquet(s"$Sf/events.parquet")
    assume(raw.schema("ts").dataType == TimestampNTZType,
      "testdata no longer NTZ-encoded; scenario vacuous")
    // the factory session's conf is what makes the other side LTZ
    assert(spark.read.parquet(s"$Sf/events.parquet").schema("ts").dataType ==
      TimestampType)
    def runIn(s: org.apache.spark.sql.SparkSession) =
      Events.qSessionize(s, Sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
    assert(runIn(ntzSession) == runIn(spark),
      "sessionize must be encoding-invariant")
  }

  test("int64-nanos encoding truncates to exact microseconds (integer div, not double floor)") {
    import java.nio.file._
    val dir = Files.createTempDirectory("graft_ns_enc").toString
    // a non-µs-aligned nanos value: 1.7e18 + 999 ns. Double division
    // (long / 1000.0) cannot represent the quotient — ulp at 1.7e15
    // is 0.25, so floor() lands on ...001 µs; the integer `div 1000`
    // branch must land on ...000.
    // and a pre-epoch value: -1500 ns sits in microsecond -2
    // (floor), where plain `div` truncation toward zero says -1
    val cases = Seq(1700000000000000999L -> 1700000000000000L,
      -1500L -> -2L)
    spark.createDataFrame(spark.sparkContext.parallelize(cases.zipWithIndex.map {
      case ((ns, _), i) => org.apache.spark.sql.Row(
        i.toLong, ns, 1L, "click", 1.0, "{}")
    }), Streams.eventsSchema.copy(fields = Streams.eventsSchema.fields.map {
      f => if (f.name == "ts") f.copy(dataType =
        org.apache.spark.sql.types.LongType) else f
    })).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables(spark, dir).events
      .orderBy(col("event_id"))
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._2), s"expected ${cases.map(_._2)}, got $got")
  }

  test("readEvents on an empty watch directory falls back to the declared schema and picks up late files") {
    import java.nio.file._
    // the standard create-dir-then-stream pattern: the probe finds
    // nothing (no files yet) and must NOT fail stream construction
    val watch = Files.createTempDirectory("graft_empty_watch")
    val stream = Streams.readEvents(spark, watch.toString)
    assert(stream.isStreaming &&
      stream.schema("ts").dataType == TimestampType)
    // files that land after construction are read on the next batch
    val src = graft.core.Tables(spark, Sf).events.limit(50)
    val tmp = Files.createTempDirectory("graft_late_stage").toString
    src.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, watch.resolve("late.parquet"))
    val q = stream.writeStream.format("memory").queryName("late_files")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("late_files").count() == 50)
  }

  test("readEvents probes the on-disk schema and emits TimestampType under an NTZ session") {
    val stream = Streams.readEvents(ntzSession, s"$Sf/events.parquet")
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == TimestampType)
    // watermark + window construction must analyze (the NTZ failure
    // mode was an AnalysisException at plan time)
    Streams.windowCounts(stream).schema
  }
}
