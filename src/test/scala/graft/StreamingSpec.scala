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

  /** Beam trigger approximation (Strategy.java:276-320): early panes
    * emit while the watermark has not closed the window; a late
    * refinement after closure tags onTime. */
  test("afterWatermark early firing: early pane before close, onTime after") {
    val dir = java.nio.file.Files.createTempDirectory("graft-early")
      .toString
    def writeBatch(file: String, rows: Seq[(Long, Long, Double)]): Unit =
      stageParquet(dir, file, rows)
    // batch 1: windows [0,6h) and [6,12h) and [12,18h); watermark
    // after the batch = 13:00 - 6h lateness = 07:00 > 06:00
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
    // early panes fired for ALL windows — including [6,12h) and
    // [12,18h), which the watermark (07:00) has NOT closed yet
    val earlyB1 = panes("early")
    assert(earlyB1.map(winStart).toSet == Set(0L, 21600L, 43200L))
    // the append side fired the ON_TIME pane only for the closed
    // [0,6h) window
    assert(panes("onTime").map(winStart) == List(0L))
    // batch 2 at 19:00 pushes the watermark to 13:00 → [6,12h)
    // closes and fires its ON_TIME pane
    writeBatch("b2", Seq((4L, 68400L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("onTime").map(winStart).toSet == Set(0L, 21600L))
    assert(panes("onTime").forall(_.getAs[Long]("n") == 1L))
    StreamRunner.stopAll()
  }

  /** Beam lateFiringTrigger (Strategy.java:283-297): a pane refining
    * a window that event time already passed (the frontier) is LATE;
    * the append query's single firing is the closing pane with late
    * data folded in (accumulating final). */
  test("afterWatermark late firing: post-window refinements tag late") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late")
      .toString
    // batch 1: [0,6h) and [12,18h). Watermark after b1 =
    // 13:00 - 8h lateness = 05:00, so no window is append-closed yet,
    // but the event-time frontier stands at 18:00
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
    // first batch: everything is an early pane (frontier was unset)
    assert(panes("early").map(winStart).toSet == Set(0L, 43200L))
    assert(panes("late").isEmpty && panes("onTime").isEmpty)
    // batch 2: a row at 02:00 refines [0,6h) AFTER the frontier
    // (18:00) passed it — a LATE pane; watermark (05:00) still admits
    // the row into state
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    val late = panes("late")
    assert(late.map(winStart) == List(0L))
    assert(late.head.getAs[Long]("n") == 2L)
    // the refinement surfaced only as a late pane, never as early
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00: [12,18h) refines while the frontier sits at
    // its own end (18:00) — NOT late; the watermark moves to 07:00
    // and the append query fires [0,6h)'s closing pane with the late
    // row folded in (accumulating final)
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("early").exists(r => winStart(r) == 43200L &&
      r.getAs[Long]("n") == 2L))
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
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
    // that pushes the frontier to 18:00. The discarding pane holds
    // ONLY the new element: sum 4 (not 7), min 4 (not 3).
    stageParquet(dir, "b2", Seq((2L, 7200L, 4.0), (3L, 50400L, 9.0)))
    StreamRunner.drainAll()
    assert(w0("early") == List((3.0, 3.0), (4.0, 4.0)))
    // batch 3: a straggler (2.0) after the frontier (18:00) passed
    // [0,6h) but inside allowedLateness — the window's first
    // post-close firing, Beam's ON_TIME pane, again since-last only
    stageParquet(dir, "b3", Seq((4L, 10800L, 2.0)))
    StreamRunner.drainAll()
    assert(w0("onTime") == List((2.0, 2.0)))
    // batch 4: a second post-close straggler → LATE pane (kept
    // because lateFiringTrigger is declared)
    stageParquet(dir, "b4", Seq((5L, 14400L, 7.0)))
    StreamRunner.drainAll()
    assert(w0("late") == List((7.0, 7.0)))
    // batch 5 pushes the frontier to 36:00; batch 6's straggler is
    // now BEYOND end + allowedLateness (06:00 + 24h < 36:00) — the
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
    // [0,6h) has one row; the 31:00 row pushes the watermark to
    // 30:00, far past [0,6h)+1h lateness
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
    assert(panes("early").map(winStart).toSet === Set(0L, 108000L))
    // batch 2: a row at 02:00 — [0,6h) ended 24h before the
    // watermark, lateness 1h → Beam drops it. No late pane for
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
    // [0,6h) single-element and [12,18h) single-element; watermark
    // after b1 = 13:00 - 6h = 07:00 closes [0,6h) only
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
    // first-child (afterWatermark+early) sequence: early panes for
    // BOTH windows even at n=1 — the afterPane(100) second child is
    // not consulted (Beam would switch to it only after t1 finishes)
    assert(panes("early").map(winStart).toSet == Set(0L, 43200L))
    assert(panes("early").forall(_.getAs[Long]("n") == 1L))
    // and the append side fired the closed window's ON_TIME pane
    assert(panes("onTime").map(winStart) == List(0L))
    StreamRunner.stopAll()
  }

  /** afterEach with LATE data (sanctioned §7.4 reduction): the
    * engine stays in the FIRST child — which is also what Beam does
    * while child 1 is unfinished (AfterEach only advances when the
    * current child finishes, and a repeating afterWatermark child
    * never does) — so the first child's lateFiringTrigger owns the
    * post-frontier refinement and the pinned sequence gains exactly
    * one LATE pane, then the closing ON_TIME pane folds the late row
    * in (accumulating final). Deterministic because the frontier /
    * fired-window trigger state persists across batches. */
  test("afterEach late pane sequence: first child's late firing owns " +
      "post-frontier refinements; count child still never gates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eachlate")
      .toString
    // frontier after b1 = 18:00 (event at 13:00 in [12,18h)); the
    // watermark 13:00 - 8h = 05:00 keeps [0,6h) open for late rows
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
    // batch 1: early panes for both windows at n=1 (the count-100
    // second child is never consulted)
    assert(panes("early").map(winStart).toSet == Set(0L, 43200L))
    assert(panes("early").forall(_.getAs[Long]("n") == 1L))
    assert(panes("late").isEmpty && panes("onTime").isEmpty)
    // batch 2: a 02:00 straggler refines [0,6h) AFTER the frontier
    // passed it → exactly one LATE pane from the first child's late
    // firing, never a second early pane for that window
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00 pushes the watermark to 07:00: [0,6h) closes
    // with the late row folded in (accumulating final ON_TIME pane)
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
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
    assert(panes("early").map(winStart).toSet == Set(0L, 43200L))
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
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
    assert(fpanes("early").map(fwin).toSet == Set(0L, 43200L))
    assert(fpanes("early").forall(_.getAs[Long]("n") == 1L))
    assert(fpanes("onTime").map(fwin) == List(0L))
    StreamRunner.stopAll()
  }

  /** afterFirst with LATE data (sanctioned §7.4 reduction): children
    * tie on processing-time delay so the engine keeps the FIRST
    * child — the afterWatermark trigger with its lateFiringTrigger —
    * which is also what Beam's AfterFirst delivers here: the
    * disjunction fires whenever EITHER child would, and after the
    * frontier passes a window only the afterWatermark child's late
    * firing reacts to a straggler (the count-100 child stays below
    * threshold forever). So the pinned sequence gains exactly one
    * LATE pane for the refined window, then the closing ON_TIME pane
    * folds the late row in — identical reasoning to the afterEach
    * late pin, because both reductions land on the same child. */
  test("afterFirst late pane sequence: the watermark child's late " +
      "firing owns post-frontier refinements") {
    val dir = java.nio.file.Files.createTempDirectory("graft-firstlate")
      .toString
    // frontier after b1 = 18:00 (event at 13:00 in [12,18h)); the
    // watermark 13:00 - 8h = 05:00 keeps [0,6h) open for late rows
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
    // batch 1: early panes for both windows at n=1
    assert(panes("early").map(winStart).toSet == Set(0L, 43200L))
    assert(panes("early").forall(_.getAs[Long]("n") == 1L))
    assert(panes("late").isEmpty && panes("onTime").isEmpty)
    // batch 2: a 02:00 straggler refines [0,6h) after the frontier
    // passed it → exactly one LATE pane (Beam: the disjunction fires
    // because the afterWatermark child's late firing does)
    stageParquet(dir, "b2", Seq((3L, 7200L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("late").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
    assert(!panes("early").exists(r => winStart(r) == 0L &&
      r.getAs[Long]("n") == 2L))
    // batch 3 at 15:00 pushes the watermark to 07:00: [0,6h) closes
    // with the late row folded in
    stageParquet(dir, "b3", Seq((4L, 54000L, 1.0)))
    StreamRunner.drainAll()
    assert(panes("onTime").map(r => (winStart(r),
      r.getAs[Long]("n"))) == List((0L, 2L)))
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
    // frontier to 18:00, closing [0,6h) in the same batch — one
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
    // batch 4: an element at 33h closes [12,18h) via the frontier —
    // its ON_TIME pane fires with NO new [12,18h) element, carrying
    // the unchanged cumulative aggregate
    stageParquet(dir, "b4", Seq((5L, 120000L, 1.0)))
    StreamRunner.drainAll()
    assert(w(43200L) == List(("early", 9.0, 9.0, 0L),
      ("onTime", 9.0, 9.0, 1L)))
    assert(w(108000L) == List(("early", 1.0, 1.0, 0L)))
    // retention bound: batch 1's and batch 3's store slices feed only
    // windows now beyond end + allowedLateness (ends ≤ 6h, frontier
    // 36h, lateness 24h) — compaction must have dropped their
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
    // < 36h frontier) — expired, the straggler emits nothing
    val before = all()
    stageParquet(dir, "b5", Seq((6L, 3600L, 5.0)))
    StreamRunner.drainAll()
    assert(all() == before)
    StreamRunner.stopAll()
  }

  /** Beam persists trigger state; so does the exact-pane engine now —
    * the frontier / fired-window / slice-max-end maps snapshot under
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
    * (the simple-unit formula) would mis-key the frontier — the
    * recipe's calendarEndOf must yield end = start + 7 days
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

  /** The sink's strategy wins trigger/mode precedence but need not
    * re-declare the WINDOW — the recipe carries the aggregation's
    * own calendar end derivation, so a sink-level discarding block
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

  test("exactPanes rejects session windows loudly (end-keyed pane " +
      "bookkeeping cannot track merging sessions)") {
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
      |      mode: accumulating
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
    assert(e.getMessage.contains("session windows"), e.getMessage)
    assert(e.getMessage.contains("drop exactPanes"), e.getMessage)
  }

  /** Element-level store compaction: one micro-batch mixing a
    * near-window and a far-window element lands in ONE `__gbatch`
    * slice, partitioned by each element's retention horizon
    * (`__wend`). When the frontier passes the near horizon the slice
    * SURVIVES but the near element's partition drops by path —
    * slice-level (max-end) compaction would have kept both until the
    * far window expired. The frontier then crosses a second horizon
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
    // element pushes the frontier to 30h, closing [0,6h) in the same
    // batch — its element's horizon is already behind the frontier
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
    // batch 1: t=130000 closes [24h,30h) — the frontier crosses a
    // SECOND horizon: slice 0 fully empties and drops by dir
    stageParquet(dir, "b2", Seq((3L, 130000L, 7.0)))
    StreamRunner.drainAll()
    assert(w(86400L) == List(("early", 5.0, 0L), ("onTime", 5.0, 1L)))
    assert(!new java.io.File(store, "__gbatch=0").exists(),
      "fully expired slice should drop")
    assert(storeRows() == 1L)
    // restart against the compacted store: the next frontier advance
    // closes [36h,42h) and its cumulative onTime pane re-aggregates
    // from the retained element — value survives compaction + restart
    StreamRunner.stopAll()
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    stageParquet(dir, "b3", Seq((4L, 160000L, 1.0)))
    StreamRunner.drainAll()
    // (memory-sink ordinals restart at 0 — the driver map dies with
    // the process; FILE sinks derive ordinals from their own prior
    // output, pinned by the restart test below. The value 7.0 is the
    // substance: re-aggregated from the compacted store.)
    assert(w(129600L) == List(("onTime", 7.0, 0L)))
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
    // the frontier past its end — early pane, then cumulative onTime
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
    // post-restart straggler into the CLOSED [0,6h): with the frontier
    // and fired set restored it is a late refinement (dropped — no
    // lateFiringTrigger, lateness 0); losing the state would re-fire
    // the closed window tagged `early`
    stageParquet(dir, "b3", Seq((4L, 10800L, 2.0)))
    StreamRunner.drainAll()
    assert(panes() == preRestart,
      s"closed window re-fired after restart: ${panes()}")
    // a new element far ahead advances the frontier past b2's slice
    // max-end: the PRE-restart slice must compact (its max-end was
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
    // the pane pipeline plus a stream-stream join sized to 3 state
    // partitions, sharing one source (as the stream benchmark does)
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
      |      leftWatermark: 60, rightWatermark: 60,
      |      stateShufflePartitions: 3}
      |sinks:
      |  - {name: crjoin, module: memory, input: jn,
      |     parameters: {outputMode: append,
      |       checkpointLocation: $dir/ckpt_join}}""".stripMargin)
    val conf = spark.conf.getAll
    try {
      Pipeline.execute(spark, config)
      // the join's state partitions and the pane store's listing
      // threshold were both scoped — and both are gone already
      assert(spark.conf.getAll == conf)
      StreamRunner.drainAll()
      assert(spark.table("crjoin").count() == 2L)
      assert(StreamRunner.paneStore.get("crpanes").map(_._1).toList ==
        List("early"))
      // the join query captured its count when it started
      val offsets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/ckpt_join/offsets/0")))
      assert(offsets.contains(
        "\"spark.sql.shuffle.partitions\":\"3\""), offsets)
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
}
