package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Streaming file-sink end-to-end: pre-existing data drained through
  * a windowed aggregation must flush finalized windows to parquet
  * (the `graft.Run --drain` batch-catch-up path). */
class StreamFileSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("drain flushes finalized windows to a parquet sink") {
    val in = Files.createTempDirectory("graft-sfs-in")
    val out = Files.createTempDirectory("graft-sfs-out").resolve("w")
    // stage events with a real timestamp column
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(in.toString)
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: "${in.toString}", format: parquet, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |    parameters:
      |      groupFields: [event_type]
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: snk
      |    module: storage
      |    inputs: [agg]
      |    parameters: {path: "${out.toString}", format: parquet,
      |                 checkpointLocation: "${in.toString}-ckpt"}
      |""".stripMargin
    Pipeline.execute(spark, config)
    graft.streaming.StreamRunner.drainAll()
    Thread.sleep(2000)
    graft.streaming.StreamRunner.drainAll()
    graft.streaming.StreamRunner.stopAll()
    val got = spark.read.parquet(out.toString)
    val n = got.count()
    // all but the last open window per event_type must have flushed
    assert(n > 0, s"no windows flushed to file sink (rows=$n)")
    // flushed windows must agree with the equivalent batch plan
    // (ts normalized the same unit-agnostic way): every closed
    // (window, type) count matches
    import org.apache.spark.sql.functions._
    val inDf = spark.read.parquet(in.toString)
    val batch = inDf
      .groupBy(window(graft.streaming.Strategy
          .toTimestamp(inDf, "ts"), "6 hours").as("window"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val joined = got.alias("s").join(batch.alias("b"),
      col("s.window") === col("b.window") &&
        col("s.event_type") === col("b.event_type"))
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
    assert(joined.count() == n)
  }

  test("strategy duration literals parse; garbage raises instead of "
      + "a zero-width window") {
    import graft.streaming.Strategy
    import graft.config.Json
    def win(sz: String) = Strategy.windowGroup(
      Json.parse(s"""{"window": {"type": "fixed", "size": $sz}}"""),
      org.apache.spark.sql.functions.col("ts")).map(_.column)
    assert(win("60").isDefined)          // numeric + default unit
    assert(win("\"90s\"").isDefined)     // literal with unit
    assert(win("\"5m\"").isDefined)
    assert(win("\"2h\"").isDefined)
    val e = intercept[IllegalArgumentException] { win("\"sixty\"") }
    assert(e.getMessage.contains("cannot parse duration"))
  }

  test("streaming calendar day windows: fixed-offset zones get cheap " +
      "fixed windows, DST zones get dynamic-gap sessions") {
    import graft.streaming.Strategy
    import graft.config.Json
    def cal(tz: String, unit: String = "day") = Strategy.windowGroup(
      Json.parse(
        s"""{"window": {"type": "calendar", "unit": "$unit", "timezone": "$tz"}}"""),
      org.apache.spark.sql.functions.col("ts"), streaming = true)
    def isSession(gw: Strategy.GroupWindow): Boolean =
      gw.column.toString.contains("session_window")
    assert(cal("UTC").exists(!isSession(_)))
    assert(cal("+09:00").exists(!isSession(_)))
    assert(cal("Asia/Tokyo").exists(!isSession(_))) // fixed since 1951
    // DST zone: day windows can't be a fixed duration (23h/25h days)
    // — routed through per-event-gap sessions instead of rejected
    assert(cal("America/New_York").exists(isSession))
    // month/year have no fixed duration in ANY zone
    assert(cal("UTC", "month").exists(isSession))
    assert(cal("UTC", "year").exists(isSession))
  }

  test("session windows drain through a file sink with typed "
      + "event time") {
    val in = Files.createTempDirectory("graft-sfs2-in")
    val out = Files.createTempDirectory("graft-sfs2-out").resolve("w")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(in.toString)
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: "${in.toString}", format: parquet, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: session, unit: minute, gap: 30}
      |    parameters:
      |      groupFields: [user_id]
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: snk
      |    module: storage
      |    inputs: [agg]
      |    parameters: {path: "${out.toString}", format: parquet,
      |                 checkpointLocation: "${in.toString}-ckpt"}
      |""".stripMargin
    Pipeline.execute(spark, config)
    graft.streaming.StreamRunner.drainAll()
    Thread.sleep(2000)
    graft.streaming.StreamRunner.drainAll()
    graft.streaming.StreamRunner.stopAll()
    val got = spark.read.parquet(out.toString)
    assert(got.count() > 0, "no sessions flushed")
    // sessions must never exceed their batch-computed count, and all
    // flushed (user, n) pairs must exist in the batch session plan
    import org.apache.spark.sql.functions._
    val inDf = spark.read.parquet(in.toString)
    val batch = inDf
      .groupBy(session_window(graft.streaming.Strategy
          .toTimestamp(inDf, "ts"), "30 minutes").as("window"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
    val joined = got.alias("s").join(batch.alias("b"),
      col("s.window.start") === col("b.window.start") &&
        col("s.user_id") === col("b.user_id"))
    assert(joined.filter(col("s.n") =!= col("b.n")).count() == 0)
  }
}
