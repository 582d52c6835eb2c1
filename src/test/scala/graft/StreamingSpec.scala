package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** events with a real timestamp column for event-time tests. */
  private lazy val stagingDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
      .toString
    TestSpark.events("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/events")
    dir
  }

  test("file stream -> fixed window aggregation -> memory sink") {
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    timestampAttribute: ts
      |    parameters: {path: $stagingDir/events, stream: true}
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
      |            - {name: total, op: sum, field: value}
      |sinks:
      |  - name: windowed
      |    module: memory
      |    input: agg
      |    parameters: {outputMode: complete}
      |""".stripMargin
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    val out = spark.sql("SELECT * FROM windowed")
    assert(out.columns.contains("window"))
    val n = out.agg(sum("n")).as[Long].head()
    assert(n == 1000L) // all events land in some window
    // windows are 6-hourly buckets
    val w = out.select($"window.start".cast("long")).distinct.as[Long]
      .collect()
    assert(w.forall(_ % 21600 == 0))
    StreamRunner.stopAll()
  }

  test("strategy accumulation mode maps to output modes; retracting rejected") {
    val base = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    timestampAttribute: ts
      |    parameters: {path: $stagingDir/events, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |      mode: MODE
      |    parameters:
      |      groupFields: [event_type]
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: accout
      |    module: memory
      |    input: agg
      |""".stripMargin
    // accumulating → complete: the running aggregate is visible
    Pipeline.execute(spark, base.replace("MODE", "accumulating"))
    StreamRunner.drainAll()
    val n = spark.sql("SELECT sum(n) FROM accout").as[Long].head()
    assert(n == 1000L)
    StreamRunner.stopAll()
    val e = intercept[IllegalArgumentException] {
      Pipeline.execute(spark, base.replace("MODE", "retracting"))
    }
    assert(e.getMessage.contains("retracting"))
    StreamRunner.stopAll()
  }

  test("session window on batch input") {
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $stagingDir/events}
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
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val out = dfs("agg")
    assert(out.columns.toSeq == Seq("window", "user_id", "n"))
    // sessions per user: every event accounted for
    assert(out.agg(sum("n")).as[Long].head() == 1000L)
    // session windows within a user never overlap
    val overlaps = out.select($"user_id", $"window.start".as("s"),
        $"window.end".as("e"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp)].collect()
      .groupBy(_._1).exists { case (_, ws) =>
        val sorted = ws.sortBy(_._2.getTime)
        sorted.zip(sorted.drop(1)).exists {
          case ((_, _, e1), (_, s2, _)) => s2.getTime < e1.getTime
        }
      }
    assert(!overlaps)
  }

  test("calendar window (day) matches date_trunc semantics") {
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $stagingDir/events}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: calendar, unit: day}
      |    parameters:
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val got = dfs("agg").select($"window".cast("date").cast("string"), $"n")
      .as[(String, Long)].collect().toMap
    val exp = spark.read.parquet(s"$stagingDir/events")
      .groupBy(to_date($"ts").cast("string")).count()
      .as[(String, Long)].collect().toMap
    assert(got == exp)
  }

  test("protobuf deserialize runs on a streaming frame") {
    // stage: batch-serialize rows to proto payloads in parquet, then
    // stream-read the staged files and decode on the unbounded frame
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-pb").toString
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: n
      |    module: storage
      |    parameters: {path: "/root/testdata/sf0.001/nation.parquet"}
      |transforms:
      |  - name: ser
      |    module: serialize
      |    inputs: [n]
      |    parameters:
      |      format: protobuf
      |      fields: [n_nationkey, n_name]
      |      outputField: payload
      |  - name: keep
      |    module: sql
      |    inputs: [ser]
      |    parameters: {sql: "SELECT payload FROM ser"}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: keep
      |    parameters: {output: "$dir/staged", format: parquet}
      |""".stripMargin)
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: src
      |    module: storage
      |    parameters: {path: "$dir/staged", stream: true}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [src]
      |    parameters:
      |      format: protobuf
      |      field: payload
      |      outputField: rec
      |      schema:
      |        fields:
      |          - {name: n_nationkey, type: int64}
      |          - {name: n_name, type: string}
      |  - name: out
      |    module: sql
      |    inputs: [de]
      |    parameters:
      |      sql: "SELECT rec.n_nationkey AS k, rec.n_name AS v FROM de"
      |sinks:
      |  - name: pbout
      |    module: memory
      |    input: out
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    val out = spark.sql("SELECT * FROM pbout")
    assert(out.count() === 25)
    assert(out.filter($"k" === 21).select("v").as[String].head() ===
      spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .filter($"n_nationkey" === 21).select("n_name").as[String].head())
    StreamRunner.stopAll()
  }

  test("streaming failure sinks drain bad records (module-scoped + " +
      "pipeline-level), uniform with batch routing") {
    // the reference routes BadRecords identically in batch and
    // streaming (MErrorHandler / failure sinks); here a streaming
    // deserialize's dead-letter rows must land in BOTH the module-
    // scoped sink and the pipeline-level union sink via foreachBatch
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-fail").toString
    Seq("oops", """{"k": 1}""", """{"k": 2}""", "also-bad").toDF("p")
      .write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.execute(spark, s"""
      |system:
      |  failure: {union: true}
      |sources:
      |  - name: src
      |    module: storage
      |    parameters: {path: "$dir/in", stream: true}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [src]
      |    failures:
      |      - name: modBad
      |        module: storage
      |        parameters: {output: "$dir/mod-bad", format: json}
      |    parameters:
      |      format: json
      |      field: p
      |      outputField: rec
      |      schema: {fields: [{name: k, type: int64}]}
      |sinks:
      |  - name: out
      |    module: storage
      |    input: de
      |    parameters:
      |      output: "$dir/out"
      |      format: parquet
      |      checkpointLocation: "$dir/ckpt"
      |failures:
      |  - name: pipeBad
      |    module: storage
      |    parameters: {output: "$dir/pipe-bad", format: json}
      |""".stripMargin)
    StreamRunner.drainAll()
    StreamRunner.stopAll()
    val modBad = spark.read.json(s"$dir/mod-bad")
    assert(modBad.count() === 2)
    assert(modBad.select("module").distinct.as[String].collect().toSeq ===
      Seq("de"))
    assert(modBad.filter($"record".contains("oops")).count() === 1)
    val pipeBad = spark.read.json(s"$dir/pipe-bad")
    assert(pipeBad.count() === 2)
    assert(spark.read.parquet(s"$dir/out").count() === 2)
  }

  test("rate source smoke: streaming plan builds") {
    val config = """
      |sources:
      |  - name: r
      |    module: rate
      |    parameters: {rowsPerSecond: 5}
      |transforms:
      |  - name: sel
      |    module: select
      |    inputs: [r]
      |    parameters:
      |      select:
      |        - {name: value}
      |        - {name: doubled, expression: "value * 2"}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    assert(dfs("sel").isStreaming)
  }

  test("composite triggers normalize to their closest repeating element") {
    import graft.config.Json
    import graft.config.Json.NodeOps
    def norm(j: String): String =
      StreamRunner.normalizeTrigger(Json.parse(j)).str("type").getOrElse("")
    // repeatedly(forever X) → X: SS triggers repeat inherently
    assert(norm("""{"type": "repeatedly",
      "foreverTrigger": {"type": "afterProcessingTime",
        "pastFirstElementDelay": 5}}""") == "afterProcessingTime")
    // afterFirst picks the child that would fire first
    val first = StreamRunner.normalizeTrigger(Json.parse("""
      {"type": "afterFirst", "childrenTriggers": [
        {"type": "afterPane", "elementCountAtLeast": 100},
        {"type": "afterProcessingTime", "pastFirstElementDelay": 2}]}"""))
    assert(first.str("type").contains("afterProcessingTime"))
    // nested composites reduce recursively
    assert(norm("""{"type": "afterEach", "childrenTriggers": [
      {"type": "repeatedly",
       "foreverTrigger": {"type": "availableNow"}}]}""") == "availableNow")
    // finalTrigger (Beam orFinally) is validated like the reference,
    // then dropped: SS ends queries via query management
    assert(norm("""{"type": "afterProcessingTime",
      "pastFirstElementDelay": 5,
      "finalTrigger": {"type": "afterPane", "elementCountAtLeast": 1}}
      """) == "afterProcessingTime")
    intercept[IllegalArgumentException] {
      StreamRunner.normalizeTrigger(Json.parse(
        """{"type": "afterProcessingTime",
           "finalTrigger": {"type": "repeatedly"}}"""))
    }
    // afterProcessingTime delays honor the reference's unit field
    assert(StreamRunner.delayMillis(Json.parse(
      """{"type": "afterProcessingTime", "pastFirstElementDelay": 2,
         "pastFirstElementDelayUnit": "minute"}""")) == 120000L)
    assert(StreamRunner.delayMillis(Json.parse(
      """{"type": "afterProcessingTime",
         "pastFirstElementDelay": 3}""")) == 3000L)
  }

  /** Write one parquet FILE (not directory) into `$dir/in` so the
    * file-stream source picks each staged batch up as a new file. */
  private def stageParquet(dir: String, file: String,
      rows: Seq[(Long, Long, Double)]): Unit = {
    val tmp = s"$dir/tmp-$file"
    rows.toDF("id", "secs", "value")
      .select($"id", timestamp_seconds($"secs").as("ts"), $"value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val inDir = new java.io.File(s"$dir/in")
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(inDir, s"$file.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Beam AfterWatermark with early firings (Strategy.java:276-320) on
    * the event-time clock (the max event time seen): a window fires
    * early panes while the clock is before its end and its ON_TIME
    * pane once the clock reaches the end — allowedLateness delays
    * expiry, not the ON_TIME pane. */
  test("afterWatermark early firing: early pane before close, onTime after") {
    val dir = java.nio.file.Files.createTempDirectory("graft-early")
      .toString
    def writeBatch(file: String, rows: Seq[(Long, Long, Double)]): Unit =
      stageParquet(dir, file, rows)
    // batch 1: windows [0,6h) and [6,12h) and [12,18h); the clock
    // after the batch = 13:00, past the first two windows' ends
    writeBatch("b1", Seq((1L, 3600L, 1.0), (2L, 25200L, 1.0),
      (3L, 46800L, 1.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: panes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |""".stripMargin
    StreamRunner.paneStore.remove("panes")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("panes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    // the clock closed [0,6h) and [6,12h) in the batch that brought
    // their elements — ON_TIME panes, no early pane before them;
    // [12,18h) is still open and fires an early pane
    assert(panes("early").map(winStart) == List(43200L))
    assert(panes("onTime").map(winStart).toSet == Set(0L, 21600L))
    // batch 2 at 19:00 moves the clock past 18:00 → [12,18h) closes
    // and fires its ON_TIME pane
    writeBatch("b2", Seq((4L, 68400L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("onTime").map(winStart).toSet ==
      Set(0L, 21600L, 43200L))
    assert(panes("onTime").forall(_.getAs[Long]("n") == 1L))
    StreamRunner.stopAll()
  }

  /** Beam lateFiringTrigger (Strategy.java:283-297): a pane refining
    * a window whose ON_TIME pane already fired (the clock reached its
    * end) is LATE, cumulative over every element so far, until the
    * clock passes the end + allowedLateness. */
  test("afterWatermark late firing: post-window refinements tag late") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
      .toString
    // batch 1: [0,6h) and [12,18h); the clock after b1 = 13:00, past
    // [0,6h)'s end but inside its 8h allowedLateness
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 8}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: latepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |""".stripMargin
    StreamRunner.paneStore.remove("latepanes")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("latepanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    // first batch: [0,6h) closes ON_TIME, [12,18h) fires early
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    assert(panes("early").map(winStart) == List(43200L))
    assert(panes("late").isEmpty)
    // batch 2: a row at 02:00 refines [0,6h) AFTER its ON_TIME pane
    // fired — a LATE pane (the clock, 13:00, is inside 06:00 + 8h)
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    val late = panes("late")
    assert(late.map(winStart) == List(0L))
    assert(late.head.getAs[Long]("n") == 2L)
    // the refinement surfaced only as a late pane, never as early
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00: [12,18h) refines before the clock reaches
    // its end — early, cumulative; [0,6h) fired ON_TIME once and
    // never again
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("early").exists(r => winStart(r) == 43200L &&
      r.getAs[Long]("n") == 2L))
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    StreamRunner.stopAll()
  }

  /** Beam DISCARDING accumulation with early firings — the canonical
    * programming-guide sequence: elements 3 then 4 in one window
    * yield panes [3] and [4] (accumulating would yield [3], [7]).
    * The engine re-aggregates each micro-batch of the pre-agg
    * stream, so this holds for EVERY aggregate type — min is
    * asserted alongside sum because no output-delta scheme could
    * reconstruct a discarding min. */
  test("discarding mode: panes carry only since-last-firing elements") {
    val dir = java.nio.file.Files.createTempDirectory("graft-disc")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: discarding
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 24}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |            - {name: mn, op: min, field: value}
      |sinks:
      |  - name: dpanes
      |    module: memory
      |    input: agg
      |""".stripMargin
    StreamRunner.paneStore.remove("dpanes")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("dpanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    def w0(tag: String): List[(Double, Double)] =
      panes(tag).filter(winStart(_) == 0L)
        .map(r => (r.getAs[Double]("s"), r.getAs[Double]("mn")))
    assert(w0("early") == List((3.0, 3.0)))
    // batch 2: a second element (4.0) in [0,6h) plus one at 14:00
    // that pushes the clock to 14:00. The discarding pane holds
    // ONLY the new element: sum 4 (not 7), min 4 (not 3). The clock
    // reaches the window's end in this batch, so the pane is Beam's
    // ON_TIME pane (it fires once the watermark passes the end), and
    // the window, receiving elements and closing in one batch, fires
    // only that pane
    stageParquet(dir, "b2", Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)))
    StreamRunner.drainAll()
    assert(w0("early") == List((3.0, 3.0)))
    assert(w0("onTime") == List((4.0, 4.0)))
    // batch 3: a straggler (2.0) after the clock (14:00) passed
    // [0,6h) but inside allowedLateness — the ON_TIME pane already
    // fired, so this is a LATE pane (kept because lateFiringTrigger
    // is declared), again since-last only
    stageParquet(dir, "b3", Seq((4L, 10800L, 2.0)))
    StreamRunner.drainAll()
    assert(w0("late") == List((2.0, 2.0)))
    // batch 4: a second post-close straggler → a second LATE pane
    stageParquet(dir, "b4", Seq((5L, 14400L, 7.0)))
    StreamRunner.drainAll()
    assert(w0("onTime") == List((4.0, 4.0)))
    assert(w0("late") == List((2.0, 2.0), (7.0, 7.0)))
    // batch 5 pushes the clock to 33:20; batch 6's straggler is
    // now BEYOND end + allowedLateness (06:00 + 24h < 33:20) — the
    // expired window drops it, like Beam
    stageParquet(dir, "b5", Seq((6L, 120000L, 1.0)))
    StreamRunner.drainAll()
    val before = (w0("early"), w0("onTime"), w0("late"))
    stageParquet(dir, "b6", Seq((7L, 3600L, 5.0)))
    StreamRunner.drainAll()
    assert((w0("early"), w0("onTime"), w0("late")) == before)
    StreamRunner.stopAll()
  }

  /** A typo'd strategy key silently produces default windows with
    * plausible numbers — the engine warns loudly instead (the
    * reference's Gson parsing drops unknown fields without a word). */
  test("unknown strategy/window/trigger keys warn on stderr") {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try graft.streaming.Strategy.warnUnknownKeys(
      graft.config.Json.parse("""{
        "timestampField": "ts", "startDae": "2024-01-01",
        "window": {"type": "fixed", "sizee": 6},
        "trigger": {"type": "afterWatermark",
          "earlyFiringTrigger": {"type": "afterProcessingTime",
            "pastFirstElementDelayy": 1}}}"""), "aggtest")
    finally System.setErr(old)
    val out = buf.toString
    assert(out.contains("startDae") && out.contains("sizee") &&
      out.contains("pastFirstElementDelayy"), out)
    // a fully valid strategy warns nothing
    buf.reset()
    System.setErr(new java.io.PrintStream(buf, true))
    try graft.streaming.Strategy.warnUnknownKeys(
      graft.config.Json.parse("""{
        "mode": "discarding", "timestampField": "ts",
        "timestampCombiner": "LATEST",
        "window": {"type": "calendar", "unit": "day", "size": 3,
          "startDate": "2024-01-05", "allowedLateness": 24},
        "trigger": {"type": "afterWatermark",
          "earlyFiringTrigger": {"type": "afterProcessingTime",
            "pastFirstElementDelay": 1},
          "lateFiringTrigger": {"type": "afterProcessingTime",
            "delay": 1, "unit": "second"}}}"""), "aggtest")
    finally System.setErr(old)
    assert(!buf.toString.contains("WARNING"), buf.toString)
  }

  /** Discarding panes need the pre-aggregation stream; a sink behind
    * an intervening transform must fail at start with an actionable
    * message, not emit accumulating panes mislabeled as discarding. */
  test("discarding mode behind an intervening transform fails actionably") {
    val dir = java.nio.file.Files.createTempDirectory("graft-discerr")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: discarding
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |  - name: sel
      |    module: select
      |    inputs: [agg]
      |    parameters:
      |      select:
      |        - {name: s}
      |sinks:
      |  - name: dpanes
      |    module: memory
      |    input: sel
      |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Pipeline.execute(spark, config)
    }
    assert(e.getMessage.contains("discarding"))
    StreamRunner.stopAll()
  }

  /** Beam programming-guide scenario: the DEFAULT trigger
    * (AfterWatermark.pastEndOfWindow, no early/late firings) emits
    * exactly ONE pane per window — the final pane, after the
    * watermark passes the window end — never a speculative or
    * duplicate firing. */
  test("default trigger pane sequence: one final pane per window, " +
      "only after the watermark closes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-default")
      .toString
    // batch 1: rows in [0,6h) and [12,18h); watermark after b1 =
    // 13:00 - 2h lateness = 11:00 → only [0,6h) is closed
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 4000L, 1.0),
      (3L, 46800L, 1.0)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 2}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: finals
      |    module: memory
      |    input: agg
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    def seen(): Seq[(Long, Long)] =
      spark.sql("SELECT window.start, n FROM finals").collect().toSeq
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1)))
    assert(seen() === Seq((0L, 2L)))
    // batch 2 at 21:00 moves the watermark to 19:00 → [12,18h)
    // closes; [0,6h) must NOT fire again (exactly one final pane)
    stageParquet(dir, "b2", Seq((4L, 75600L, 1.0)))
    StreamRunner.drainAll()
    assert(seen().sorted === Seq((0L, 2L), (43200L, 1L)))
    StreamRunner.stopAll()
  }

  /** Beam programming-guide scenario: data later than window end +
    * allowedLateness is DROPPED — it neither fires a late pane nor
    * mutates any window's final contents. */
  test("beyond-allowed-lateness data is dropped: no pane, no " +
      "refinement") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drop")
      .toString
    // [0,6h) has one row; the 31:00 row pushes the clock to 31:00,
    // far past [0,6h)+1h lateness
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 111600L, 1.0)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: droppanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("droppanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    assert(panes("early").map(winStart) === List(108000L))
    assert(panes("onTime").map(winStart) === List(0L))
    // batch 2: a row at 02:00 — [0,6h) ended 25h before the clock,
    // lateness 1h → Beam drops it. No late pane for
    // [0,6h); its count stays 1 in every pane ever fired.
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").isEmpty)
    assert(StreamRunner.paneStore.get("droppanes").toList
      .filter(p => winStart(p._2) == 0L)
      .forall(_._2.getAs[Long]("n") == 1L))
    StreamRunner.stopAll()
  }

  test("logging taps observe STREAMING module outputs per micro-batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slog")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 7200L, 5.0),
      (3L, 10800L, 9.0)))
    // module name distinct from PipelineSpec's batch tap test —
    // `observed` is a process-global map and suites share the JVM
    graft.LoggingTaps.observed.remove("sbig.sbig|info")
    try {
      Pipeline.execute(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: sbig
        |    module: filter
        |    inputs: [ev]
        |    loggings: [{name: sbig, level: info}]
        |    parameters:
        |      filters: [{key: value, op: ">", value: 2}]
        |sinks:
        |  - name: slogout
        |    module: memory
        |    input: sbig
        |    parameters: {outputMode: append}
        |""".stripMargin)
      StreamRunner.drainAll()
      // StreamingQueryListener delivery is async after the batch
      val seen = (1 to 50).exists { _ =>
        val m = graft.LoggingTaps.observed.get("sbig.sbig|info")
        if (m == null) { Thread.sleep(100); false }
        else { assert(m("count") == 2L); true }
      }
      assert(seen, "streaming observed metric never arrived")
    } finally StreamRunner.stopAll()
  }

  test("afterPane elementCountAtLeast: panes gated on count threshold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pane")
      .toString
    stageParquet(dir, "b1",
      Seq((1L, 3600L, 1.0), (2L, 3700L, 1.0), (3L, 25200L, 1.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: gated
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger: {type: afterPane, elementCountAtLeast: 2, countField: n}
      |""".stripMargin
    StreamRunner.paneStore.remove("gated")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    val panes = StreamRunner.paneStore.get("gated").toList
    // the single-element [6,12h) window is withheld; [0,6h) passes
    assert(panes.nonEmpty)
    assert(panes.forall(_._2.getAs[Long]("n") >= 2L))
    StreamRunner.stopAll()
  }

  /** Beam `AfterEach.inOrder(t1, t2)` fires t1's sequence first; the
    * engine's documented reduction (StreamRunner.normalizeTrigger)
    * keeps ONLY t1, so the pane sequence must equal what t1 alone
    * produces — in particular a count-gating second child must never
    * withhold a pane. This pins the approximation end-to-end, not
    * just the node rewrite. */
  test("afterEach pane sequence: first child drives panes, second " +
      "child never gates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-each")
      .toString
    // [0,6h) single-element and [12,18h) single-element; the clock
    // after b1 = 13:00 closes [0,6h) only
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("eachpanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: eachpanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterEach
      |        childrenTriggers:
      |          - type: afterWatermark
      |            earlyFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 100}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("eachpanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    // first-child (afterWatermark+early) sequence: the open window's
    // early pane and the closed window's ON_TIME pane, both at n=1 —
    // the afterPane(100) second child is not consulted (Beam would
    // switch to it only after t1 finishes)
    assert(panes("early").map(winStart) == List(43200L))
    assert(panes("onTime").map(winStart) == List(0L))
    assert((panes("early") ++ panes("onTime"))
      .forall(_.getAs[Long]("n") == 1L))
    StreamRunner.stopAll()
  }

  /** afterEach with LATE data (sanctioned §7.4 reduction): the
    * engine stays in the FIRST child — which is also what Beam does
    * while child 1 is unfinished (AfterEach only advances when the
    * current child finishes, and a repeating afterWatermark child
    * never does) — so the first child's lateFiringTrigger owns the
    * post-close refinement and the pinned sequence gains exactly
    * one LATE pane (cumulative, with the late row folded in) after
    * the window's ON_TIME pane. Deterministic because the clock /
    * fired-window trigger state persists across batches. */
  test("afterEach late pane sequence: first child's late firing owns " +
      "post-frontier refinements; count child still never gates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eachlate")
      .toString
    // the clock after b1 = 13:00 closes [0,6h); its 8h
    // allowedLateness keeps it open for late rows until 14:00
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("eachlatepanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 8}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: eachlatepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterEach
      |        childrenTriggers:
      |          - type: afterWatermark
      |            earlyFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |            lateFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 100}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("eachlatepanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    // batch 1: [0,6h)'s ON_TIME pane and [12,18h)'s early pane at
    // n=1 (the count-100 second child is never consulted)
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    assert(panes("early").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((43200L, 1L)))
    assert(panes("late").isEmpty)
    // batch 2: a 02:00 straggler refines [0,6h) AFTER its ON_TIME
    // pane → exactly one LATE pane from the first child's late
    // firing, never a second early pane for that window
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00 refines the open [12,18h) early; [0,6h)
    // fired ON_TIME once and never again
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("early").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((43200L, 1L), (43200L, 2L)))
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    StreamRunner.stopAll()
  }

  /** orFinally (`finalTrigger`) with LATE data: the reference
    * validates the final child as a once-trigger and the engine then
    * drops it (§7.4 — Structured Streaming ends queries via query
    * management, not trigger state), so the pinned pane sequence
    * with a finalTrigger present is EXACTLY the sequence without it,
    * late panes included. Beam itself would additionally stop
    * delivering panes once the final child fires; the engine's
    * documented divergence is that it never self-terminates. */
  test("orFinally late pane sequence: finalTrigger validates, then " +
      "the base trigger's sequence — late pane included — is pinned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-finlate")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("finlatepanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 8}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: finlatepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        finalTrigger:
      |          {type: afterPane, elementCountAtLeast: 1}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("finlatepanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    assert(panes("early").map(winStart) == List(43200L))
    assert(panes("onTime").map(winStart) == List(0L))
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("early").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((43200L, 1L), (43200L, 2L)))
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    StreamRunner.stopAll()
  }

  /** Beam `AfterFirst(t1, t2)` fires when EITHER child would; the
    * engine's documented reduction keeps the child with the shortest
    * processing-time delay, else the FIRST child on ties. Both
    * children here tie (no processing-time delay), so the pinned
    * sequence is the first child's — afterWatermark+early fires at
    * n=1 and the count-100 second child never withholds, which is
    * also what Beam's afterFirst would do (the early trigger fires
    * first). */
  test("afterFirst pane sequence: earliest child drives, count " +
      "child never gates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-first")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("firstpanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: firstpanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterFirst
      |        childrenTriggers:
      |          - type: afterWatermark
      |            earlyFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 100}
      |""".stripMargin)
    StreamRunner.drainAll()
    def fpanes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("firstpanes").toList
        .filter(_._1 == tag).map(_._2)
    def fwin(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    assert(fpanes("early").map(fwin) == List(43200L))
    assert(fpanes("onTime").map(fwin) == List(0L))
    assert((fpanes("early") ++ fpanes("onTime"))
      .forall(_.getAs[Long]("n") == 1L))
    StreamRunner.stopAll()
  }

  /** afterFirst with LATE data (sanctioned §7.4 reduction): children
    * tie on processing-time delay so the engine keeps the FIRST
    * child — the afterWatermark trigger with its lateFiringTrigger —
    * which is also what Beam's AfterFirst delivers here: the
    * disjunction fires whenever EITHER child would, and after the
    * clock passes a window only the afterWatermark child's late
    * firing reacts to a straggler (the count-100 child stays below
    * threshold forever). So the pinned sequence gains exactly one
    * LATE pane for the refined window after its ON_TIME pane —
    * identical reasoning to the afterEach late pin, because both
    * reductions land on the same child. */
  test("afterFirst late pane sequence: the watermark child's late " +
      "firing owns post-frontier refinements") {
    val dir = java.nio.file.Files.createTempDirectory("graft-firstlate")
      .toString
    // the clock after b1 = 13:00 closes [0,6h); its 8h
    // allowedLateness keeps it open for late rows until 14:00
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("firstlatepanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 8}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: firstlatepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterFirst
      |        childrenTriggers:
      |          - type: afterWatermark
      |            earlyFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |            lateFiringTrigger:
      |              {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 100}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(tag: String): List[org.apache.spark.sql.Row] =
      StreamRunner.paneStore.get("firstlatepanes").toList
        .filter(_._1 == tag).map(_._2)
    def winStart(r: org.apache.spark.sql.Row): Long =
      r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").getTime / 1000
    // batch 1: [0,6h)'s ON_TIME pane and [12,18h)'s early pane at n=1
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    assert(panes("early").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((43200L, 1L)))
    assert(panes("late").isEmpty)
    // batch 2: a 02:00 straggler refines [0,6h) after its ON_TIME
    // pane → exactly one LATE pane (Beam: the disjunction fires
    // because the afterWatermark child's late firing does)
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00 refines the open [12,18h) early; [0,6h)
    // fired ON_TIME once and never again
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("early").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((43200L, 1L), (43200L, 2L)))
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 1L)))
    StreamRunner.stopAll()
  }

  /** Beam `AfterAll(t1, t2)` fires only when ALL children have; the
    * engine's documented reduction keeps the child that fires LAST —
    * here the count trigger — so the pinned sequence is gated until
    * elementCountAtLeast is met, exactly Beam's conjunction for this
    * pair (the processing-time child has long since fired). */
  test("afterAll pane sequence: the count child gates the pane") {
    val dir = java.nio.file.Files.createTempDirectory("graft-all")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0)))
    StreamRunner.paneStore.remove("allpanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: allpanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterAll
      |        childrenTriggers:
      |          - {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 2, countField: n}
      |""".stripMargin)
    StreamRunner.drainAll()
    def aseq(): List[Long] =
      StreamRunner.paneStore.get("allpanes") match {
        case null => Nil
        case buf => buf.toList.map(_._2).map(_.getAs[Long]("n"))
      }
    // one element < 2: the conjunction has not fired
    assert(aseq().isEmpty)
    stageParquet(dir, "b2", Seq((2L, 3700L, 1.0)))
    StreamRunner.drainAll()
    assert(aseq() == List(2L))
    StreamRunner.stopAll()
  }

  /** afterAll with LATE data (sanctioned §7.4 reduction): the engine
    * keeps the count child, and the count gate holds ACROSS the
    * frontier passing the window — a straggler that lifts the count
    * over the threshold fires the pane then, which is exactly Beam's
    * conjunction: the processing-time child fired long ago, so
    * AfterAll fires the moment the count child does, and Beam's
    * PaneInfo would stamp that firing LATE (it is behind the
    * frontier, inside allowedLateness). The documented divergence of
    * the afterPane reduction is that the engine's pane rows carry
    * the flat `pane` tag rather than PaneInfo timing — the firing
    * SEQUENCE (nothing before threshold, exactly one pane with the
    * late row folded in, nothing more) is what this pins. */
  test("afterAll late pane sequence: the count gate holds across " +
      "the frontier and fires on the late straggler") {
    val dir = java.nio.file.Files.createTempDirectory("graft-alllate")
      .toString
    // [0,6h) gets ONE element; the 13:00 element drives the
    // watermark to 05:00 (allowedLateness 8), keeping [0,6h) open
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 46800L, 1.0)))
    StreamRunner.paneStore.remove("alllatepanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 8}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: alllatepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: afterAll
      |        childrenTriggers:
      |          - {type: afterProcessingTime, pastFirstElementDelay: 1}
      |          - {type: afterPane, elementCountAtLeast: 2, countField: n}
      |""".stripMargin)
    StreamRunner.drainAll()
    def apanes(): List[(Long, Long)] =
      StreamRunner.paneStore.get("alllatepanes") match {
        case null => Nil
        case buf => buf.toList.map(_._2).map(r =>
          (r.getAs[org.apache.spark.sql.Row]("window")
            .getAs[java.sql.Timestamp]("start").getTime / 1000,
            r.getAs[Long]("n")))
      }
    // both windows below the count threshold: nothing fires, even
    // though the processing-time child has "fired" (Beam: the
    // conjunction waits for ALL children)
    assert(apanes().isEmpty)
    // the 02:00 straggler lands behind the frontier but inside
    // allowedLateness: count reaches 2 → the conjunction fires now
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(apanes() == List((0L, 2L)))
    // the [12,18h) window stays below threshold forever: no pane
    assert(!apanes().exists(_._1 == 43200L))
    StreamRunner.stopAll()
  }

  /** Beam `Repeatedly.forever(AfterPane.elementCountAtLeast(2))
    * .orFinally(AfterWatermark.pastEndOfWindow())`: panes fire at
    * counts 2, 3, ... until the final trigger closes the window. The
    * engine's documented reduction validates the finalTrigger (must
    * be a once-trigger) then drops it — termination comes from query
    * management — so the pinned sequence is the forever-child's
    * repeated firings, exactly, with nothing after stop. */
  test("orFinally pane sequence: forever child repeats, finalTrigger " +
      "validated then dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orfin")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: orfin
      |    module: memory
      |    input: agg
      |    strategy:
      |      trigger:
      |        type: repeatedly
      |        foreverTrigger:
      |          {type: afterPane, elementCountAtLeast: 2, countField: n}
      |        finalTrigger: {type: afterWatermark}
      |""".stripMargin)
    StreamRunner.drainAll()
    def seq(): List[Long] =
      StreamRunner.paneStore.get("orfin").toList.map(_._2)
        .filter(r => r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime == 0L)
        .map(_.getAs[Long]("n"))
    // count 1 < 2: AfterPane withholds the first pane (Beam fires
    // nothing before the count threshold)
    assert(seq().isEmpty)
    // +1 element → threshold met → first firing with n=2
    stageParquet(dir, "b2", Seq((2L, 3700L, 1.0)))
    StreamRunner.drainAll()
    assert(seq() == List(2L))
    // +1 more → Repeatedly fires AGAIN (n=3): the forever child
    // repeats; a bare AfterPane in Beam would be done after one pane
    stageParquet(dir, "b3", Seq((3L, 3800L, 1.0)))
    StreamRunner.drainAll()
    assert(seq() == List(2L, 3L))
    // termination: stop ends the query (the documented orFinally
    // approximation); no further panes materialize afterwards
    StreamRunner.stopAll()
    stageParquet(dir, "b4", Seq((4L, 3900L, 1.0)))
    Thread.sleep(200)
    assert(seq() == List(2L, 3L))
  }

  /** Beam ACCUMULATING accumulation, exact engine (opt-in via
    * strategy.exactPanes): the programming-guide sequence — elements
    * 3 then 4 in one window yield panes [3], [7] (cumulative), with
    * min proving real re-aggregation (a delta scheme cannot
    * accumulate a min). Pane ordinals count per key+window firings;
    * the window's close emits an ON_TIME pane even when the closing
    * batch has no element for it. */
  test("accumulating exactPanes: cumulative panes with ordinals and " +
      "watermark-close onTime firing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-accx")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 24}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |            - {name: mn, op: min, field: value}
      |sinks:
      |  - name: apanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin
    StreamRunner.paneStore.remove("apanes")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    def all(): List[(String, Long, Double, Double, Long)] =
      StreamRunner.paneStore.get("apanes").toList.map { case (tag, r) =>
        (tag,
          r.getAs[org.apache.spark.sql.Row]("window")
            .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Double]("s"), r.getAs[Double]("mn"),
          r.getAs[Long]("__pane_index"))
      }
    def w(start: Long) = all().filter(_._2 == start)
      .map(t => (t._1, t._3, t._4, t._5))
    assert(w(0L) == List(("early", 3.0, 3.0, 0L)))
    // batch 2: 4.0 joins [0,6h) AND an element at 14:00 pushes the
    // clock to 14:00, closing [0,6h) in the same batch — one
    // cumulative ON_TIME pane (sum 7 = 3+4, min 3), not an early +
    // onTime pair, so the ordinal stays one-per-batch
    stageParquet(dir, "b2", Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)))
    StreamRunner.drainAll()
    assert(w(0L) == List(("early", 3.0, 3.0, 0L),
      ("onTime", 7.0, 3.0, 1L)))
    assert(w(43200L) == List(("early", 9.0, 9.0, 0L)))
    // batch 3: straggler in the closed [0,6h) within lateness —
    // LATE pane, cumulative over ALL three elements
    stageParquet(dir, "b3", Seq((4L, 10800L, 2.0)))
    StreamRunner.drainAll()
    assert(w(0L).last == ("late", 9.0, 2.0, 2L))
    // batch 4: an element at 33h closes [12,18h) via the clock —
    // its ON_TIME pane fires with NO new [12,18h) element, carrying
    // the unchanged cumulative aggregate
    stageParquet(dir, "b4", Seq((5L, 120000L, 1.0)))
    StreamRunner.drainAll()
    assert(w(43200L) == List(("early", 9.0, 9.0, 0L),
      ("onTime", 9.0, 9.0, 1L)))
    assert(w(108000L) == List(("early", 1.0, 1.0, 0L)))
    // retention bound: batch 1's and batch 3's store slices feed only
    // windows now beyond end + allowedLateness (ends ≤ 6h, clock
    // 33h20, lateness 24h) — compaction must have dropped their
    // __gbatch dirs, leaving on disk only the 3 open-horizon elements
    // (7200, 50400, 120000), not all 5 ever ingested
    val store = new java.io.File(s"$dir/ckpt/acc-elements")
    val slices = Option(store.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("__gbatch=")).toSet
    assert(!slices.contains("__gbatch=0"), s"expired slice kept: $slices")
    val storeRows = spark.read.parquet(store.toString).count()
    assert(storeRows <= 3,
      s"store retains $storeRows rows — open-horizon bound exceeded")
    // batch 5: [0,6h) is now beyond end + allowedLateness (6h + 24h
    // ≤ 33h20 clock) — expired, the straggler emits nothing
    val before = all()
    stageParquet(dir, "b5", Seq((6L, 3600L, 5.0)))
    StreamRunner.drainAll()
    assert(all() == before)
    StreamRunner.stopAll()
  }

  /** Beam persists trigger state; so does the exact-pane engine now —
    * the event-time clock and fired-window set snapshot under
    * the checkpoint per batch and restore on restart, so pane TIMING
    * (not just values) is identical across a kill/restart: a window
    * that closed before the crash stays closed instead of re-firing
    * `early`, and pre-restart store slices keep compacting. */
  /** Calendar buckets have IMMUTABLE ends once assigned (next
    * midnight for day units) — unlike sessions, the end-keyed pane
    * bookkeeping is sound for them; this pins that the combination
    * actually works rather than leaving it untested next to the
    * session-window loud-error boundary. */
  test("accumulating exactPanes over calendar-day windows: " +
      "cumulative panes and watermark close") {
    val dir = java.nio.file.Files.createTempDirectory("graft-acccal")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: calendar, unit: day, allowedLateness: 24}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |            - {name: mn, op: min, field: value}
      |sinks:
      |  - name: calpanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin
    StreamRunner.paneStore.remove("calpanes")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    def all(): List[(String, Long, Double, Double)] =
      StreamRunner.paneStore.get("calpanes") match {
        case null => Nil
        case buf => buf.toList.map { case (tag, r) =>
          (tag,
            r.getAs[org.apache.spark.sql.Row]("window")
              .getAs[java.sql.Timestamp]("start").getTime / 1000,
            r.getAs[Double]("s"), r.getAs[Double]("mn"))
        }
      }
    // day-1 bucket [0, 86400): early cumulative pane over element 3
    assert(all().contains(("early", 0L, 3.0, 3.0)), all())
    // second element in the same day refines cumulatively (min
    // proves real re-aggregation)
    stageParquet(dir, "b2", Seq((2L, 7200L, 2.0)))
    StreamRunner.drainAll()
    assert(all().contains(("early", 0L, 5.0, 2.0)), all())
    // day-4 element pushes the watermark (3d+ - 24h lateness) past
    // day-1's end: the bucket closes with an ON_TIME pane
    stageParquet(dir, "b3", Seq((3L, 300000L, 9.0)))
    StreamRunner.drainAll()
    assert(all().exists(t => t._1 == "onTime" && t._2 == 0L &&
      t._3 == 5.0 && t._4 == 2.0), all())
    StreamRunner.stopAll()
  }

  test("discarding panes over calendar-day windows: per-batch panes " +
      "with the rebuilt window struct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-disccal")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    StreamRunner.paneStore.remove("dcalpanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: discarding
      |      timestampField: ts
      |      window: {type: calendar, unit: day}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: dcalpanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin)
    StreamRunner.drainAll()
    def panes(): List[(String, Long, Double)] =
      StreamRunner.paneStore.get("dcalpanes") match {
        case null => Nil
        case buf => buf.toList.map { case (tag, r) =>
          (tag,
            r.getAs[org.apache.spark.sql.Row]("window")
              .getAs[java.sql.Timestamp]("start").getTime / 1000,
            r.getAs[Double]("s"))
        }
      }
    assert(panes().contains(("early", 0L, 3.0)), panes())
    // discarding: the second batch's pane holds ONLY its own element
    stageParquet(dir, "b2", Seq((2L, 7200L, 2.0)))
    StreamRunner.drainAll()
    assert(panes().contains(("early", 0L, 2.0)), panes())
    assert(!panes().contains(("early", 0L, 5.0)),
      "discarding pane accumulated across batches: " + panes())
    StreamRunner.stopAll()
  }

  /** Week-offset calendar buckets exercise the ANCHORED end
    * derivation through the pane engines: the bucket start is NOT an
    * ISO Monday, so deriving the end as date_trunc(WEEK, start)+7d
    * (the simple-unit formula) would mis-key the window end — the
    * pane re-aggregation's window must yield end = start + 7 days
    * exactly. */
  test("exactPanes over week-offset calendar buckets: anchored ends " +
      "(start + 7d), cumulative panes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-accwko")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    StreamRunner.paneStore.remove("wkopanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: calendar, unit: week, offset: 2, allowedLateness: 24}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: wkopanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin)
    StreamRunner.drainAll()
    def all(): List[(String, Long, Long, Double)] =
      StreamRunner.paneStore.get("wkopanes") match {
        case null => Nil
        case buf => buf.toList.map { case (tag, r) =>
          val w = r.getAs[org.apache.spark.sql.Row]("window")
          (tag, w.getAs[java.sql.Timestamp]("start").getTime / 1000,
            w.getAs[java.sql.Timestamp]("end").getTime / 1000,
            r.getAs[Double]("s"))
        }
      }
    val first = all()
    assert(first.nonEmpty, "no pane fired")
    first.foreach { case (_, ws, we, _) =>
      assert(we - ws == 7 * 86400,
        s"anchored week end must be start + 7d, got [$ws, $we)")
      assert(ws <= 3600 && 3600 < we,
        s"event at 3600 outside its bucket [$ws, $we)")
    }
    assert(first.exists(t => t._1 == "early" && t._4 == 3.0), first)
    // second element refines cumulatively in the same bucket
    stageParquet(dir, "b2", Seq((2L, 7200L, 2.0)))
    StreamRunner.drainAll()
    assert(all().exists(t => t._1 == "early" && t._4 == 5.0), all())
    StreamRunner.stopAll()
  }

  /** America/Sao_Paulo kept DST until 2019 (December 2018 ran at
    * -02:00, today's offset is -03:00): a day bucket there follows
    * the zone's history, in the streaming grouping and in the exact
    * engine's horizons alike. A fixed window at today's offset would
    * give each pane an end no horizon matches, and no pane would
    * fire; it would also put 02:30Z on Dec 11 into the Dec 10 bucket. */
  test("exactPanes over calendar days in a zone whose offset changed " +
      "since the data: panes fire in the zone-history buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-accsp")
      .toString
    def at(iso: String) = java.time.Instant.parse(iso).getEpochSecond
    stageParquet(dir, "b1", Seq((1L, at("2018-12-10T10:00:00Z"), 3.0)))
    StreamRunner.paneStore.remove("sppanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: calendar, unit: day, timezone: America/Sao_Paulo, allowedLateness: 24}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: sppanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin)
    StreamRunner.drainAll()
    def all(): List[(String, Long, Long, Double)] =
      StreamRunner.paneStore.get("sppanes") match {
        case null => Nil
        case buf => buf.toList.map { case (tag, r) =>
          val w = r.getAs[org.apache.spark.sql.Row]("window")
          (tag, w.getAs[java.sql.Timestamp]("start").getTime / 1000,
            w.getAs[java.sql.Timestamp]("end").getTime / 1000,
            r.getAs[Double]("s"))
        }
      }
    // local midnight at -02:00 is 02:00Z
    val dec10 = at("2018-12-10T02:00:00Z")
    val dec11 = at("2018-12-11T02:00:00Z")
    val dec12 = at("2018-12-12T02:00:00Z")
    assert(all().contains(("early", dec10, dec11, 3.0)), all())
    stageParquet(dir, "b2", Seq((2L, at("2018-12-10T20:00:00Z"), 2.0)))
    StreamRunner.drainAll()
    assert(all().contains(("early", dec10, dec11, 5.0)), all())
    // 00:30 local on Dec 11: the next bucket, not a refinement of Dec 10
    stageParquet(dir, "b3", Seq((3L, at("2018-12-11T02:30:00Z"), 4.0)))
    StreamRunner.drainAll()
    assert(all().contains(("early", dec11, dec12, 4.0)), all())
    assert(!all().exists(t => t._2 == dec10 && t._4 == 9.0), all())
    StreamRunner.stopAll()
  }

  /** The sink's strategy wins trigger/mode precedence but need not
    * re-declare the WINDOW — the recipe groups with the
    * aggregation's own strategy, so a sink-level discarding block
    * over an upstream calendar-windowed aggregation works. */
  test("discarding panes with the strategy split across modules: " +
      "agg declares the calendar window, sink declares mode+trigger") {
    val dir = java.nio.file.Files.createTempDirectory("graft-splitcal")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    StreamRunner.paneStore.remove("splitpanes")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: calendar, unit: day}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: splitpanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      mode: discarding
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin)
    StreamRunner.drainAll()
    val rows = StreamRunner.paneStore.get("splitpanes") match {
      case null => Nil
      case buf => buf.toList.map { case (tag, r) =>
        (tag, r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Double]("s"))
      }
    }
    assert(rows.contains(("early", 0L, 3.0)), rows)
    StreamRunner.stopAll()
  }

  /** Pane recipes live on the run scope: a pane sink started by hand
    * after `Pipeline.build` returned, with no scope around both, says
    * where to start it; inside an enclosing scope the same calls
    * start it. */
  test("a pane sink started outside a run scope fails pointedly; " +
      "inside an enclosing scope it starts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scoped")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    StreamRunner.paneStore.remove("scopedpanes")
    val strategy = """{"mode": "discarding", "timestampField": "ts",
      "window": {"type": "fixed", "size": 21600},
      "trigger": {"type": "afterWatermark", "earlyFiringTrigger":
        {"type": "afterProcessingTime", "pastFirstElementDelay": 1}}}"""
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy: ${strategy.replace("\n", " ")}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |""".stripMargin
    val sink = Pipeline.ModuleCfg("scopedpanes", "memory", Seq("agg"), Nil,
      graft.config.Json.parse(s"""{"checkpointLocation": "$dir/ckpt"}"""),
      graft.config.Json.obj())
    val st = Some(graft.config.Json.parse(strategy))
    val built = Pipeline.build(spark, config)
    val e = intercept[IllegalStateException] {
      graft.operators.SinkExecutor.execute(spark, sink, built.get("agg"), st)
    }
    assert(e.getMessage.contains("must start inside a run"), e.getMessage)
    val scope = graft.ops.CacheTracker.beginScope()
    try {
      val inScope = Pipeline.build(spark, config)
      graft.operators.SinkExecutor.execute(spark, sink, inScope.get("agg"), st)
      StreamRunner.drainAll()
    } finally scope.close(release = true)
    val rows = StreamRunner.paneStore.get("scopedpanes") match {
      case null => Nil
      case buf => buf.toList.map { case (tag, r) =>
        (tag, r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Double]("s"))
      }
    }
    assert(rows.contains(("early", 0L, 3.0)), rows)
    StreamRunner.stopAll()
  }

  test("exactPanes rejects session windows loudly (end-keyed pane " +
      "bookkeeping cannot track merging sessions)") {
    Seq("accumulating", "discarding").foreach(rejectsSessionWindows)
  }

  private def rejectsSessionWindows(mode: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-accsx")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: $mode
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: session, unit: hour, gap: 1}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: spanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](
      try Pipeline.execute(spark, config)
      finally StreamRunner.stopAll())
    assert(e.getMessage.contains("session windows"), s"$mode: ${e.getMessage}")
    assert(e.getMessage.contains("drop earlyFiringTrigger"),
      s"$mode: ${e.getMessage}")
  }

  /** Element-level store compaction: one micro-batch mixing a
    * near-window and a far-window element lands in ONE `__gbatch`
    * slice, partitioned by each element's retention horizon
    * (`__wend`). When the clock passes the near horizon the slice
    * SURVIVES but the near element's partition drops by path —
    * slice-level (max-end) compaction would have kept both until the
    * far window expired. The clock then crosses a second horizon
    * (slice fully empties → dir drops), and a restart re-aggregates
    * the compacted store into the correct cumulative onTime pane. */
  test("exactPanes element-level compaction: expired elements drop " +
      "from a surviving slice; restart re-aggregates the compacted " +
      "store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-accc")
      .toString
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: epanes
      |    module: memory
      |    input: agg
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin
    def w(start: Long): List[(String, Double, Long)] =
      StreamRunner.paneStore.get("epanes").toList.map { case (tag, r) =>
        (tag,
          r.getAs[org.apache.spark.sql.Row]("window")
            .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Double]("s"), r.getAs[Long]("__pane_index"))
      }.filter(_._2 == start).map(t => (t._1, t._3, t._4))
    val store = new java.io.File(s"$dir/ckpt/acc-elements")
    def slice(id: Long): Set[String] = Option(
        new java.io.File(store, s"__gbatch=$id").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("__wend=")).toSet
    def storeRows(): Long = spark.read.parquet(store.toString).count()
    // batch 0: t=3600 (window [0,6h), horizon = its end 21600) and
    // t=90000 ([24h,30h), horizon 108000) in ONE slice; the far
    // element pushes the clock to 25h, closing [0,6h) in the same
    // batch — its element's horizon is already behind the clock
    StreamRunner.paneStore.remove("epanes")
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0), (2L, 90000L, 5.0)))
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    assert(w(0L) == List(("onTime", 3.0, 0L)))
    assert(w(86400L) == List(("early", 5.0, 0L)))
    assert(slice(0) == Set("__wend=108000"),
      s"near element's partition should drop from the surviving " +
        s"slice: ${slice(0)}")
    assert(storeRows() == 1L, s"store retains ${storeRows()} rows")
    // batch 1: t=130000 closes [24h,30h) — the clock crosses a
    // SECOND horizon: slice 0 fully empties and drops by dir
    stageParquet(dir, "b2", Seq((3L, 130000L, 7.0)))
    StreamRunner.drainAll()
    assert(w(86400L) == List(("early", 5.0, 0L), ("onTime", 5.0, 1L)))
    assert(!new java.io.File(store, "__gbatch=0").exists(),
      "fully expired slice should drop")
    assert(storeRows() == 1L)
    // restart against the compacted store: the next clock advance
    // closes [36h,42h) and its cumulative onTime pane re-aggregates
    // from the retained element — value survives compaction + restart
    StreamRunner.stopAll()
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    stageParquet(dir, "b3", Seq((4L, 160000L, 1.0)))
    StreamRunner.drainAll()
    // (the buffer restarts empty, but the ordinal continues: every
    // sink numbers panes from the ordinals snapshot under the
    // checkpoint, so this window's pre-restart early pane was #0.
    // The value 7.0 is re-aggregated from the compacted store.)
    assert(w(129600L) == List(("onTime", 7.0, 1L)))
    assert(w(151200L) == List(("early", 1.0, 0L)))
    StreamRunner.stopAll()
  }

  test("exactPanes restart: trigger state restores — closed windows " +
      "stay closed and pre-restart slices still compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-accr")
      .toString
    val out = s"$dir/out"
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: rpanes
      |    module: storage
      |    input: agg
      |    parameters:
      |      {output: $out, format: parquet,
      |       checkpointLocation: $dir/ckpt}
      |""".stripMargin
    def panes(): Seq[(Long, String, Double, Long)] =
      spark.read.parquet(out)
        .select(col("window.start").cast("long"), col("__pane"),
          col("s"), col("__pane_index"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
          r.getLong(3)))
        .toSeq.sortBy(t => (t._1, t._4))
    // window [0,6h) gets an element, then an element at 14:00 pushes
    // the clock past its end — early pane, then cumulative onTime
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    stageParquet(dir, "b2", Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)))
    StreamRunner.drainAll()
    val preRestart = panes()
    assert(preRestart.filter(_._1 == 0L) ==
      Seq((0L, "early", 3.0, 0L), (0L, "onTime", 7.0, 1L)))
    // kill: stop every query, then re-execute the SAME config against
    // the SAME checkpoint — the restart contract
    StreamRunner.stopAll()
    assert(new java.io.File(s"$dir/ckpt/trigger-state").listFiles()
      .exists(_.getName.startsWith("__tbatch=")),
      "trigger-state snapshot missing from the checkpoint")
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    // post-restart straggler into the CLOSED [0,6h): with the clock
    // and fired set restored it is an expired refinement (dropped —
    // lateness 0); losing the state would re-fire
    // the closed window tagged `early`
    stageParquet(dir, "b3", Seq((4L, 10800L, 2.0)))
    StreamRunner.drainAll()
    assert(panes() == preRestart,
      s"closed window re-fired after restart: ${panes()}")
    // a new element far ahead advances the clock past b2's
    // horizons: the PRE-restart slice must compact (the clock was
    // restored from the snapshot, not lost with the process)
    stageParquet(dir, "b4", Seq((5L, 100800L, 1.0)))
    StreamRunner.drainAll()
    assert(panes().filter(_._1 == 86400L) ==
      Seq((86400L, "early", 1.0, 0L)))
    val store = new java.io.File(s"$dir/ckpt/acc-elements")
    val slices = Option(store.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("__gbatch=")).toSet
    assert(!slices.contains("__gbatch=1"),
      s"pre-restart slice not compacted after restart: $slices")
    StreamRunner.stopAll()
  }

  /** A restart replays the last micro-batch when its commit is
    * missing, and the replay finds the trigger state that the batch
    * itself already wrote. It must be a no-op, exactly as a retry in
    * the same process is: the sink keeps each pane once, and the
    * window that closed in the replayed batch keeps its ON_TIME pane.
    * Checked in both accumulation modes on a parquet sink: two
    * batches, stop, delete the last commit, re-execute. */
  test("a batch replayed after a restart publishes its panes once, in " +
      "both accumulation modes") {
    Seq("accumulating", "discarding").foreach { mode =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-replay-$mode")
        .toString
      val out = s"$dir/out"
      val config = s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: agg
        |    module: aggregation
        |    inputs: [ev]
        |    strategy:
        |      mode: $mode
        |      timestampField: ts
        |      window: {type: fixed, unit: hour, size: 6}
        |      trigger:
        |        type: afterWatermark
        |        earlyFiringTrigger:
        |          {type: afterProcessingTime, pastFirstElementDelay: 1}
        |    parameters:
        |      groupFields: []
        |      aggregations:
        |        - input: ev
        |          fields:
        |            - {name: s, op: sum, field: value}
        |sinks:
        |  - name: replaypanes
        |    module: storage
        |    input: agg
        |    parameters:
        |      {output: $out, format: parquet,
        |       checkpointLocation: $dir/ckpt}
        |""".stripMargin
      def panes(): Seq[(Long, String, Double, Long)] =
        spark.read.parquet(out)
          .select(col("window.start").cast("long"), col("__pane"),
            col("s"), col("__pane_index"))
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
            r.getLong(3)))
          .toSeq.sorted
      // [0,6h) fires early in batch 0 and ON_TIME in batch 1, whose
      // 14:00 element moves the clock past its end
      stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
      val uninterrupted = try {
        Pipeline.execute(spark, config)
        StreamRunner.drainAll()
        stageParquet(dir, "b2", Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)))
        StreamRunner.drainAll()
        panes()
      } finally StreamRunner.stopAll()
      assert(uninterrupted.exists(_._2 == "onTime"), s"$mode: $uninterrupted")
      val commits = new java.io.File(s"$dir/ckpt/$mode/commits")
      Seq("1", ".1.crc").foreach(n => new java.io.File(commits, n).delete())
      assert(!new java.io.File(commits, "1").exists())
      try {
        Pipeline.execute(spark, config)
        StreamRunner.drainAll()
        assert(new java.io.File(commits, "1").exists(),
          s"$mode: batch 1 was not replayed")
        assert(panes() == uninterrupted, s"$mode after the replay")
      } finally StreamRunner.stopAll()
    }
  }

  test("drainUntilWatermark: returns only after a batch executed " +
      "with the watermark at/past ts, and times out loudly when the " +
      "watermark cannot get there") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dwm")
      .toString
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 1, allowedLateness: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: out
      |    module: storage
      |    input: agg
      |    parameters: {output: $dir/out, format: parquet,
      |      checkpointLocation: $dir/ckpt}
      |""".stripMargin
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0), (2L, 5400L, 2.0)))
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    // watermark-advancing sentinel at 40 h; wait causally for 35 h
    stageParquet(dir, "b2", Seq((3L, 40L * 3600, 0.0)))
    val target = java.time.Instant.ofEpochSecond(35L * 3600)
    StreamRunner.drainUntilWatermark(target)
    val q = StreamRunner.activeQueries.head
    val wm = java.time.Instant.parse(
      q.lastProgress.eventTime.get("watermark"))
    assert(!wm.isBefore(target), s"watermark $wm before $target")
    // the 1h window at [3600, 7200) is watermark-closed — its append
    // row is committed by the time the drain returns
    val res = spark.read.parquet(s"$dir/out")
    assert(res.count() >= 1, "closed window not flushed at return")
    // an unreachable target fails loudly, naming the remedy
    val e = intercept[IllegalStateException](
      StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2100-01-01T00:00:00Z"),
        timeoutMs = 1500))
    assert(e.getMessage.contains("watermark-advancing"), e.getMessage)
    StreamRunner.stopAll()
  }

  /** Exact accumulating panes over 6h fixed windows into `sink`. */
  private def exactPaneConfig(dir: String, sink: String,
      sinkParams: String): String = s"""
    |sources:
    |  - name: ev
    |    module: storage
    |    parameters: {path: $dir/in, stream: true}
    |transforms:
    |  - name: agg
    |    module: aggregation
    |    inputs: [ev]
    |    strategy:
    |      mode: accumulating
    |      exactPanes: true
    |      timestampField: ts
    |      window: {type: fixed, unit: hour, size: 6}
    |      trigger:
    |        type: afterWatermark
    |        earlyFiringTrigger:
    |          {type: afterProcessingTime, pastFirstElementDelay: 1}
    |    parameters:
    |      groupFields: []
    |      aggregations:
    |        - input: ev
    |          fields:
    |            - {name: s, op: sum, field: value}
    |sinks:
    |  - name: $sink
    |    module: ${if (sinkParams.contains("output")) "storage" else "memory"}
    |    input: agg
    |    parameters: $sinkParams
    |""".stripMargin

  test("exact panes and a sized join: the session conf is back at return") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crr")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0), (2L, 3660L, 4.0)))
    // the pane pipeline plus a stream-stream join, sharing one source
    // (as the stream benchmark does)
    val config = exactPaneConfig(dir, "crpanes", "{}").replace(
      "sinks:", s"""|  - name: lft
      |    module: sql
      |    inputs: [ev]
      |    parameters: {sql: "SELECT id, id % 2 AS u, ts FROM ev"}
      |  - name: wins
      |    module: sql
      |    inputs: [ev]
      |    parameters:
      |      sql: "SELECT id AS wid, id % 2 AS u, ts AS s,
      |        ts + INTERVAL 60 SECONDS AS e FROM ev"
      |  - name: jn
      |    module: join
      |    inputs: [lft, wins]
      |    parameters: {method: interval, by: [u], leftOn: ts,
      |      rightStart: s, rightEnd: e, maxIntervalSpan: 60,
      |      leftWatermark: 60, rightWatermark: 60}
      |sinks:
      |  - {name: crjoin, module: memory, input: jn,
      |     parameters: {outputMode: append,
      |       checkpointLocation: $dir/ckpt_join}}""".stripMargin)
    val conf = spark.conf.getAll
    try {
      Pipeline.execute(spark, config)
      // the pane store's listing threshold was scoped — and is gone
      // already
      assert(spark.conf.getAll == conf)
      StreamRunner.drainAll()
      assert(spark.table("crjoin").count() == 2L)
      assert(StreamRunner.paneStore.get("crpanes").map(_._1).toList ==
        List("early"))
      // the join query sized its state to the session's count
      val parts = conf("spark.sql.shuffle.partitions")
      val offsets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/ckpt_join/offsets/0")))
      assert(offsets.contains(
        s"\"spark.sql.shuffle.partitions\":\"$parts\""), offsets)
    } finally StreamRunner.stopAll()
  }

  test("exact-pane pipelines whose sinks share a name keep apart") {
    val base = java.nio.file.Files.createTempDirectory("graft-same")
    // two event streams; b2 of each closes the window b1 opened
    val batches = Map(
      "a" -> Seq(Seq((1L, 3600L, 3.0)),
        Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)),
        Seq((4L, 54000L, 1.0))),
      "b" -> Seq(Seq((1L, 1800L, 10.0)),
        Seq((2L, 40000L, 20.0)),
        Seq((3L, 90000L, 30.0), (4L, 41000L, 5.0))))
    def pipeline(run: String, stream: String): (String, () => Unit) = {
      val dir = base.resolve(s"$run-$stream").toString
      stageParquet(dir, "b0", batches(stream).head)
      (dir, () => Pipeline.execute(spark, exactPaneConfig(dir, "spane",
        s"{output: $dir/out, format: parquet, " +
          s"checkpointLocation: $dir/ckpt}")))
    }
    def panes(dir: String): Seq[(Long, String, Double, Long)] =
      spark.read.parquet(s"$dir/out")
        .select(col("window.start").cast("long"), col("__pane"),
          col("s"), col("__pane_index"))
        .as[(Long, String, Double, Long)].collect().toSeq
        .sortBy(t => (t._1, t._4))
    try {
      val solo = Seq("a", "b").map { st =>
        val (dir, start) = pipeline("solo", st)
        start()
        StreamRunner.drainAll()
        batches(st).indices.tail.foreach { i =>
          stageParquet(dir, s"b$i", batches(st)(i))
          StreamRunner.drainAll()
        }
        StreamRunner.stopAll()
        panes(dir)
      }
      // both queries run at once; their micro-batches alternate
      val (dirA, startA) = pipeline("both", "a")
      val (dirB, startB) = pipeline("both", "b")
      startA()
      StreamRunner.drainAll()
      startB()
      StreamRunner.drainAll()
      (1 until 3).foreach { i =>
        Seq("a" -> dirA, "b" -> dirB).foreach { case (st, dir) =>
          stageParquet(dir, s"b$i", batches(st)(i))
          StreamRunner.drainAll()
        }
      }
      assert(solo.forall(_.exists(_._2 == "onTime")), solo)
      assert(Seq(panes(dirA), panes(dirB)) == solo)
    } finally StreamRunner.stopAll()
  }

  /** Exact-pane transforms over one keyed source, one per window
    * shape, each feeding a memory sink `mem_<shape>` and a parquet
    * sink `pq_<shape>` (output `<dir>/out-<shape>`). */
  private def shapesConfig(dir: String, lateness: String,
      shapes: Seq[(String, String)], groupFields: String): String = {
    val delay = "{type: afterProcessingTime, pastFirstElementDelay: " +
      "200, pastFirstElementDelayUnit: millisecond}"
    val transforms = shapes.map { case (name, window) => s"""
      |  - name: agg_$name
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      allowedLateness: $lateness
      |      window: $window
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger: $delay
      |        lateFiringTrigger: $delay
      |    parameters:
      |      groupFields: $groupFields
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |            - {name: s, op: sum, field: value}
      |            - {name: mn, op: min, field: value}""" }
    val sinks = shapes.map { case (name, _) => s"""
      |  - name: mem_$name
      |    module: memory
      |    input: agg_$name
      |    parameters: {checkpointLocation: $dir/ckpt-mem_$name}
      |  - name: pq_$name
      |    module: storage
      |    input: agg_$name
      |    parameters: {output: $dir/out-$name, format: parquet,
      |      checkpointLocation: $dir/ckpt-pq_$name}""" }
    (s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:""" + transforms.mkString + "\n|sinks:" +
      sinks.mkString + "\n").stripMargin
  }

  /** Stage keyed (k, secs, value) rows as one parquet file. */
  private def stageKeyed(dir: String, file: String,
      rows: Seq[(String, Long, Double)]): Unit = {
    val tmp = s"$dir/tmp-$file"
    rows.toDF("k", "secs", "value")
      .select($"k", timestamp_seconds($"secs").as("ts"), $"value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val inDir = new java.io.File(s"$dir/in")
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(inDir, s"$file.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** window end (epoch s) | key | pane | ordinal | n | s | mn */
  private def paneLine(r: org.apache.spark.sql.Row): String =
    Seq(r.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("end").getTime / 1000,
      r.getAs[String]("k"), r.getAs[String]("__pane"),
      r.getAs[Long]("__pane_index"), r.getAs[Long]("n"),
      r.getAs[Double]("s"), r.getAs[Double]("mn")).mkString("|")

  /** One 3-batch fixture through every window shape the exact-pane
    * engine serves — fixed 6 h, calendar day in a DST zone, sliding
    * 12 h/6 h (size a period multiple) and sliding 5 h/2 h (not a
    * multiple, the full-read path) — each into a memory sink and a
    * parquet sink. Keys a and b, a in every batch; batch 3 brings a
    * straggler within allowedLateness (a at 64 h), one beyond it
    * (b at 40 h) and a clock push (a at 120 h). Values are powers
    * of two, so each sum names its element set. The fixed and
    * calendar golden rows were captured from the engine before its
    * firing paths were merged; the sliding rows follow the
    * event-time clock (a window closes once the max event time
    * reaches its end: [54 h, 66 h) is still open when the max event
    * is at 63 h). Both sinks must match them. */
  test("exactPanes window shapes x sinks: golden pane rows, memory " +
      "sinks equal parquet sinks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shapes")
      .toString
    val h = 3600L
    val batches = Seq(
      Seq(("a", 49 * h, 1.0), ("b", 50 * h, 2.0), ("a", 55 * h, 4.0),
        ("a", 63 * h, 8.0)),
      Seq(("a", 57 * h, 16.0), ("b", 80 * h, 32.0)),
      Seq(("a", 64 * h, 64.0), ("b", 40 * h, 128.0),
        ("a", 120 * h, 256.0)))
    val shapes = Seq(
      "fixed" -> "{type: fixed, unit: hour, size: 6}",
      "calendar" ->
        "{type: calendar, unit: day, timezone: Europe/Berlin}",
      "sliding12x6" -> "{type: sliding, unit: hour, size: 12, period: 6}",
      "sliding5x2" -> "{type: sliding, unit: hour, size: 5, period: 2}")
    val golden: Map[String, Seq[String]] = Map(
      "fixed" -> Seq(
        "194400|a|onTime|0|1|1.0|1.0",
        "194400|b|onTime|0|1|2.0|2.0",
        "216000|a|late|1|2|20.0|4.0",
        "216000|a|onTime|0|1|4.0|4.0",
        "237600|a|early|0|1|8.0|8.0",
        "237600|a|late|2|2|72.0|8.0",
        "237600|a|onTime|1|1|8.0|8.0",
        "302400|b|early|0|1|32.0|32.0",
        "302400|b|onTime|1|1|32.0|32.0",
        "453600|a|early|0|1|256.0|256.0"),
      "calendar" -> Seq(
        "255600|a|early|0|3|13.0|1.0",
        "255600|a|late|2|5|93.0|1.0",
        "255600|a|onTime|1|4|29.0|1.0",
        "255600|b|early|0|1|2.0|2.0",
        "255600|b|onTime|1|1|2.0|2.0",
        "342000|b|early|0|1|32.0|32.0",
        "342000|b|onTime|1|1|32.0|32.0",
        "514800|a|early|0|1|256.0|256.0"),
      "sliding12x6" -> Seq(
        "194400|a|onTime|0|1|1.0|1.0",
        "194400|b|onTime|0|1|2.0|2.0",
        "216000|a|late|1|3|21.0|1.0",
        "216000|a|onTime|0|2|5.0|1.0",
        "216000|b|onTime|0|1|2.0|2.0",
        "237600|a|early|0|2|12.0|4.0",
        "237600|a|late|2|4|92.0|4.0",
        "237600|a|onTime|1|3|28.0|4.0",
        "259200|a|early|0|1|8.0|8.0",
        "259200|a|late|2|2|72.0|8.0",
        "259200|a|onTime|1|1|8.0|8.0",
        "302400|b|early|0|1|32.0|32.0",
        "302400|b|onTime|1|1|32.0|32.0",
        "324000|b|early|0|1|32.0|32.0",
        "324000|b|onTime|1|1|32.0|32.0",
        "453600|a|early|0|1|256.0|256.0",
        "475200|a|early|0|1|256.0|256.0"),
      "sliding5x2" -> Seq(
        "183600|a|onTime|0|1|1.0|1.0",
        "183600|b|onTime|0|1|2.0|2.0",
        "190800|a|onTime|0|1|1.0|1.0",
        "190800|b|onTime|0|1|2.0|2.0",
        "198000|b|onTime|0|1|2.0|2.0",
        "205200|a|onTime|0|1|4.0|4.0",
        "212400|a|late|1|2|20.0|4.0",
        "212400|a|onTime|0|1|4.0|4.0",
        "219600|a|onTime|0|1|16.0|16.0",
        "234000|a|early|0|1|8.0|8.0",
        "234000|a|late|2|2|72.0|8.0",
        "234000|a|onTime|1|1|8.0|8.0",
        "241200|a|early|0|1|8.0|8.0",
        "241200|a|late|2|2|72.0|8.0",
        "241200|a|onTime|1|1|8.0|8.0",
        "248400|a|onTime|0|1|64.0|64.0",
        "291600|b|early|0|1|32.0|32.0",
        "291600|b|onTime|1|1|32.0|32.0",
        "298800|b|early|0|1|32.0|32.0",
        "298800|b|onTime|1|1|32.0|32.0",
        "306000|b|early|0|1|32.0|32.0",
        "306000|b|onTime|1|1|32.0|32.0",
        "435600|a|early|0|1|256.0|256.0",
        "442800|a|early|0|1|256.0|256.0",
        "450000|a|early|0|1|256.0|256.0"))
    shapes.foreach { case (name, _) =>
      StreamRunner.paneStore.remove(s"mem_$name") }
    stageKeyed(dir, "b0", batches.head)
    try {
      Pipeline.execute(spark,
        shapesConfig(dir, "24h", shapes, "[k]"))
      StreamRunner.drainAll()
      batches.indices.tail.foreach { i =>
        stageKeyed(dir, s"b$i", batches(i))
        StreamRunner.drainAll()
      }
    } finally StreamRunner.stopAll()
    shapes.foreach { case (name, _) =>
      val mem = StreamRunner.paneStore.get(s"mem_$name").toList
        .map(t => paneLine(t._2)).sorted
      val pq = spark.read.parquet(s"$dir/out-$name").collect()
        .map(paneLine).toSeq.sorted
      assert(mem == golden(name), s"$name memory:\n${mem.mkString("\n")}")
      assert(pq == golden(name), s"$name parquet:\n${pq.mkString("\n")}")
    }
  }

  /** A fixed window ignores `period` — the grouping always did; the
    * element store's retention horizon must too, or an element is
    * compacted away before its window closes. */
  test("exactPanes fixed windows ignore a stray period key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixper")
      .toString
    val h = 3600L
    val batches = Seq(Seq(("a", 6 * h, 1.0)), Seq(("a", 11 * h, 2.0)),
      Seq(("a", 13 * h, 4.0)))
    val shapes = Seq(
      "plain" -> "{type: fixed, unit: hour, size: 6}",
      "period" -> "{type: fixed, unit: hour, size: 6, period: 4}")
    shapes.foreach { case (name, _) =>
      StreamRunner.paneStore.remove(s"mem_$name") }
    stageKeyed(dir, "b0", batches.head)
    try {
      Pipeline.execute(spark, shapesConfig(dir, "0", shapes, "[]"))
      StreamRunner.drainAll()
      batches.indices.tail.foreach { i =>
        stageKeyed(dir, s"b$i", batches(i))
        StreamRunner.drainAll()
      }
    } finally StreamRunner.stopAll()
    def panes(name: String): List[(String, Long, Long, Long)] =
      StreamRunner.paneStore.get(s"mem_$name").toList.map { case (tag, r) =>
        (tag, r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Long]("n"), r.getAs[Long]("__pane_index"))
      }
    // window [06:00, 12:00): both elements in its second early pane
    // and in its on-time pane
    assert(panes("period").filter(_._2 == 6 * h) == List(
      ("early", 6 * h, 1L, 0L), ("early", 6 * h, 2L, 1L),
      ("onTime", 6 * h, 2L, 2L)), panes("period"))
    assert(panes("period") == panes("plain"))
  }

  /** A pane is the aggregation applied to a subset of the window's
    * elements, so a pane row carries the aggregation's own
    * timestampCombiner stamp: with EARLIEST, `__event_time` is the
    * minimum event time over the pane's elements — the batch's
    * elements for a discarding pane, every element of the window so
    * far for an accumulating one. */
  test("pane rows carry the aggregation's timestampCombiner stamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft-combpanes")
      .toString
    val h = 3600L
    val batches = Seq(
      Seq(("a", 1 * h, 1.0), ("a", 3 * h, 2.0), ("b", 2 * h, 4.0),
        ("a", 9 * h, 8.0)),
      Seq(("a", 4 * h, 16.0), ("a", 7 * h, 32.0)))
    val delay = "{type: afterProcessingTime, pastFirstElementDelay: " +
      "200, pastFirstElementDelayUnit: millisecond}"
    val modes = Seq("disc" -> "discarding", "acc" -> "accumulating")
    val transforms = modes.map { case (name, mode) => s"""
      |  - name: agg_$name
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: $mode
      |      exactPanes: ${mode == "accumulating"}
      |      timestampField: ts
      |      timestampCombiner: EARLIEST
      |      allowedLateness: 24h
      |      window: {type: fixed, unit: hour, size: 6}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger: $delay
      |        lateFiringTrigger: $delay
      |    parameters:
      |      groupFields: [k]
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}""" }
    val sinks = modes.map { case (name, _) => s"""
      |  - name: comb_$name
      |    module: memory
      |    input: agg_$name
      |    parameters: {checkpointLocation: $dir/ckpt-$name}""" }
    val config = (s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:""" + transforms.mkString + "\n|sinks:" +
      sinks.mkString + "\n").stripMargin
    modes.foreach { case (name, _) =>
      StreamRunner.paneStore.remove(s"comb_$name") }
    def rows(name: String): List[org.apache.spark.sql.Row] =
      Option(StreamRunner.paneStore.get(s"comb_$name"))
        .map(_.toList.map(_._2)).getOrElse(Nil)
    // pane rows each batch appended, per sink
    val perBatch = modes.map(_._1 -> scala.collection.mutable.ListBuffer
      [List[org.apache.spark.sql.Row]]()).toMap
    def drained(): Unit = {
      StreamRunner.drainAll()
      modes.foreach { case (name, _) =>
        perBatch(name) += rows(name).drop(perBatch(name).map(_.size).sum)
      }
    }
    stageKeyed(dir, "b0", batches.head)
    try {
      Pipeline.execute(spark, config)
      drained()
      stageKeyed(dir, "b1", batches(1))
      drained()
    } finally StreamRunner.stopAll()
    modes.foreach { case (name, _) =>
      perBatch(name).zipWithIndex.foreach { case (panes, i) =>
        assert(panes.nonEmpty, s"$name: no pane in batch $i")
        panes.foreach { r =>
          assert(r.schema.fieldNames.contains("__event_time"),
            s"$name pane row has no __event_time: ${r.schema}")
          val end = r.getAs[org.apache.spark.sql.Row]("window")
            .getAs[java.sql.Timestamp]("end").getTime / 1000
          val k = r.getAs[String]("k")
          val elements =
            if (name == "disc") batches(i) else batches.take(i + 1).flatten
          val want = elements.filter(e => e._1 == k &&
            e._2 >= end - 6 * h && e._2 < end).map(_._2).min
          assert(r.getAs[java.sql.Timestamp]("__event_time").getTime ==
            want * 1000L, s"$name batch $i: $r")
        }
      }
    }
  }

  /** Pane recipes live with the run: a pipeline with many streaming
    * aggregations keeps every one of them, so a pane sink on the
    * first still finds its recipe after 65 more registered. */
  test("a pane recipe survives a pipeline with 66 streaming " +
      "aggregations") {
    val dir = java.nio.file.Files.createTempDirectory("graft-manyrecipes")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val others = (2 to 66).map(i => s"""
      |  - name: agg_$i
      |    module: aggregation
      |    inputs: [ev]
      |    parameters:
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}""").mkString
    val config = (s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg_1
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: discarding
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}""" + others + s"""
      |sinks:
      |  - name: manypanes
      |    module: memory
      |    input: agg_1
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""").stripMargin
    StreamRunner.paneStore.remove("manypanes")
    try {
      Pipeline.execute(spark, config)
      StreamRunner.drainAll()
    } finally StreamRunner.stopAll()
    val panes = Option(StreamRunner.paneStore.get("manypanes"))
      .map(_.toList).getOrElse(Nil)
    assert(panes.map { case (tag, r) => (tag, r.getAs[Double]("s")) } ==
      List(("early", 3.0)), panes)
  }

  /** allowedLateness belongs to the aggregation: its watermark and
    * its windows' expiry read the same strategy. A sink strategy that
    * sets only the mode and the trigger keeps the aggregation's 24 h,
    * so the 02:00 straggler (the clock stands at 14:00) still fires
    * [0 h, 6 h)'s pane; a sink strategy with a different
    * allowedLateness fails at start and names both values. */
  test("pane engines take allowedLateness from the aggregation, and a " +
      "different sink value fails at start") {
    val dir = java.nio.file.Files.createTempDirectory("graft-latesrc")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 1.0)))
    def config(sinkLateness: String) = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 24}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: s, op: sum, field: value}
      |sinks:
      |  - name: latepanes
      |    module: memory
      |    input: agg
      |    strategy:
      |      mode: discarding$sinkLateness
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 1}
      |    parameters: {checkpointLocation: $dir/ckpt}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](
      try Pipeline.execute(spark,
        config("\n      |      allowedLateness: 8h"))
      finally StreamRunner.stopAll())
    assert(e.getMessage.contains("28800s") &&
      e.getMessage.contains("86400s"), e.getMessage)
    StreamRunner.paneStore.remove("latepanes")
    def panes(): List[(String, Long, Double)] =
      StreamRunner.paneStore.get("latepanes").toList.map { case (tag, r) =>
        (tag, r.getAs[org.apache.spark.sql.Row]("window")
          .getAs[java.sql.Timestamp]("start").getTime / 1000,
          r.getAs[Double]("s"))
      }
    try {
      Pipeline.execute(spark, config(""))
      StreamRunner.drainAll()
      stageParquet(dir, "b2", Seq((2L, 50400L, 2.0)))
      StreamRunner.drainAll()
      stageParquet(dir, "b3", Seq((3L, 7200L, 4.0)))
      StreamRunner.drainAll()
      assert(panes() == List(("early", 0L, 1.0), ("early", 43200L, 2.0),
        ("onTime", 0L, 4.0)))
    } finally StreamRunner.stopAll()
  }

  /** A trigger-state snapshot from a build whose clock was the max
    * window END (`frontier`) cannot resume: read as an event time it
    * would close the current window early. The engine refuses it at
    * start and names the remedy. */
  test("a trigger-state snapshot from an earlier build fails at start") {
    val dir = java.nio.file.Files.createTempDirectory("graft-oldsnap")
      .toString
    stageParquet(dir, "b1", Seq((1L, 3600L, 3.0)))
    val snaps = new java.io.File(s"$dir/ckpt/trigger-state")
    snaps.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(snaps, "__tbatch=0.json").toPath,
      """{"frontier":21600000,"fired":[]}""".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      try Pipeline.execute(spark, exactPaneConfig(dir, "oldpanes",
        s"{checkpointLocation: $dir/ckpt}"))
      finally StreamRunner.stopAll())
    assert(e.getMessage.contains("written by an earlier build; start " +
      "from a fresh checkpoint"), e.getMessage)
  }
}
