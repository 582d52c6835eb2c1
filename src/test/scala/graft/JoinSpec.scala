package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Pipeline.ModuleCfg
import graft.operators.JoinTransform

/** `join` transform — bucketed interval join + blocked fuzzy join.
  * Oracled end-to-end by q143/q144/q145; these pin the edge
  * semantics: closed bounds, bin-boundary points, overlap dedup
  * (one output row per pair however many bins they share), null and
  * inverted intervals, left-outer completion, blocker recall, and
  * the fan-out guard. */
class JoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def join(params: String,
      l: org.apache.spark.sql.DataFrame,
      r: org.apache.spark.sql.DataFrame) =
    JoinTransform.build(spark,
      ModuleCfg("jn", "join", Seq("l", "r"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("l" -> l, "r" -> r))("jn")

  test("interval point mode: closed bounds, bin-boundary points, " +
      "nulls and inverted intervals never match") {
    val pts = Seq((1L, 0.0), (2L, 10.0), (3L, 20.0), (4L, 25.0),
      (5L, 31.0), (6L, Double.NaN)).toDF("pid", "t")
      .withColumn("t", org.apache.spark.sql.functions
        .when($"pid" === 6L, null).otherwise($"t"))
    val ivs = Seq((100L, 10.0, 20.0), (101L, 20.0, 30.0),
      (102L, 30.0, 25.0)).toDF("iid", "s", "e")
    // binWidth 7 puts 10 and 20 on interior bin boundaries
    val out = join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":7}""", pts, ivs)
      .select("pid", "right_iid").as[(Long, Long)].collect().toSet
    // closed: 10 and 20 match both ends; 25 in [20,30]; 0, 31 match
    // nothing; inverted interval 102 never matches; null point drops
    assert(out == Set((2L, 100L), (3L, 100L), (3L, 101L), (4L, 101L)))
  }

  test("interval overlap mode emits each overlapping pair exactly " +
      "once, however many bins the pair shares") {
    val a = Seq((1L, 0.0, 100.0), (2L, 95.0, 96.0), (3L, 200.0, 210.0))
      .toDF("aid", "as", "ae")
    val b = Seq((10L, 50.0, 150.0), (11L, 99.0, 100.0),
      (12L, 150.5, 199.0)).toDF("bid", "bs", "be")
    val out = join(
      """{"method":"interval","leftStart":"as","leftEnd":"ae",
         "rightStart":"bs","rightEnd":"be","binWidth":10}""", a, b)
      .select("aid", "right_bid").as[(Long, Long)].collect().toList
    // (1,10) share 6 bins — exactly one row; closed-bound touch at
    // 100 matches 11; 12 overlaps nothing
    assert(out.sorted == List((1L, 10L), (1L, 11L), (2L, 10L)))
  }

  test("interval how=left completes unmatched lefts once, with by " +
      "keys scoping the match") {
    val pts = Seq((1L, "u1", 15.0), (2L, "u2", 15.0), (3L, "u1", 99.0))
      .toDF("pid", "u", "t")
    val ivs = Seq((100L, "u1", 10.0, 20.0)).toDF("iid", "u", "s", "e")
    val out = join(
      """{"method":"interval","by":["u"],"leftOn":"t",
         "rightStart":"s","rightEnd":"e","binWidth":5,"how":"left"}""",
      pts, ivs)
    val rows = out.select("pid", "right_iid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    // u2's point is inside the window numerically but by-key scoped
    assert(rows == Set((1L, Some(100L)), (2L, None), (3L, None)))
    assert(out.count() == 3)
  }

  test("interval fan-out guard fails loudly instead of replicating " +
      "an unbounded interval") {
    val pts = Seq((1L, 5.0)).toDF("pid", "t")
    val ivs = Seq((100L, 0.0, 1e9)).toDF("iid", "s", "e")
    val e = intercept[Exception](join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":1,"maxBinsPerInterval":100}""",
      pts, ivs).collect())
    assert(e.getMessage.contains("maxBinsPerInterval") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("maxBinsPerInterval"),
      e.getMessage)
  }

  test("fuzzy prefix blocker: levenshtein within threshold matches, " +
      "an edit inside the block escapes (documented recall bound)") {
    val l = Seq((1L, "gadget-alpha"), (2L, "widget-beta"))
      .toDF("lid", "name")
    val r = Seq((10L, "gadget-alphX"), // tail edit, same block
      (11L, "Xidget-beta")) // FIRST-char edit: escapes prefix block
      .toDF("rid", "name")
    val out = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blockLength":4}""", l, r)
      .select("lid", "right_rid", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 10L, 1.0)))
  }

  test("fuzzy suffix blocker catches the first-char edit on " +
      "id-like strings; left-outer completes the rest") {
    val l = Seq((1L, "Customer#001"), (2L, "Customer#002"))
      .toDF("lid", "name")
    val r = Seq((10L, "Xustomer#001")).toDF("rid", "name")
    val out = join(
      """{"method":"fuzzy","leftOn":"name","threshold":1,
         "blocker":"suffix","blockLength":4,"how":"left"}""", l, r)
    val rows = out.select("lid", "right_rid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows == Set((1L, Some(10L)), (2L, None)))
  }

  test("fuzzy ngram blocker shuffles ids only, caps hot grams, and " +
      "verifies jaro_winkler on candidates") {
    val l = Seq((1L, "blue widget"), (2L, "red gizmo"))
      .toDF("lid", "name")
    val r = Seq((10L, "blue widgets"), (11L, "green spanner"))
      .toDF("rid", "name")
    val out = join(
      """{"method":"fuzzy","leftOn":"name","measure":"jaro_winkler",
         "threshold":0.9,"blocker":"ngram","leftId":"lid",
         "rightId":"rid"}""", l, r)
      .select("lid", "right_rid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L)))
    // by keys scope the gram buckets: the same names under different
    // keys never pair, and the per-(key, gram) cap keeps a gram hot
    // in one key from evicting it everywhere
    val lk = Seq((1L, "g1", "blue widget"), (2L, "g2", "blue widget"))
      .toDF("lid", "grp", "name")
    val rk = Seq((10L, "g1", "blue widgets")).toDF("rid", "grp", "name")
    val outK = join(
      """{"method":"fuzzy","leftOn":"name","measure":"jaro_winkler",
         "threshold":0.9,"blocker":"ngram","by":["grp"],
         "leftId":"lid","rightId":"rid"}""", lk, rk)
      .select("lid", "right_rid").as[(Long, Long)].collect().toSet
    assert(outK == Set((1L, 10L)))
    val e = intercept[IllegalArgumentException](join(
      """{"method":"fuzzy","leftOn":"name","threshold":1,
         "blocker":"ngram"}""", l, r))
    assert(e.getMessage.contains("leftId"))
  }

  test("token_jaccard matches word-reordered names that edit " +
      "distance misses; empty/null token sets never match") {
    val l = Seq((1L, "john smith"), (2L, "acme corp ltd"), (3L, ""),
      (4L, null: String)).toDF("lid", "name")
    val r = Seq((10L, "smith john"), (11L, "acme ltd"), (12L, ""))
      .toDF("rid", "name")
    val out = join(
      """{"method":"fuzzy","leftOn":"name","measure":"token_jaccard",
         "threshold":0.6,"blocker":"ngram","leftId":"lid",
         "rightId":"rid"}""", l, r)
      .select("lid", "right_rid", "score")
      .as[(Long, Long, Double)].collect().toSet
    // reordered tokens score 1.0; {acme,corp,ltd}∩{acme,ltd} = 2/3;
    // empty-vs-empty is 0/0 → null → no match
    assert(out == Set((1L, 10L, 1.0), (2L, 11L, 2.0 / 3.0)))
    // the same pair under levenshtein scores far apart — the reorder
    // fixture provably separates the measures
    val lev = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blocker":"ngram","leftId":"lid","rightId":"rid"}""", l, r)
      .select("lid", "right_rid").as[(Long, Long)].collect().toSet
    assert(!lev.contains((1L, 10L)))
  }

  test("tokenSort: edit distance survives reorder WITH a char typo; " +
      "null names stay null (never match)") {
    val l = Seq((1L, "Jhon Smith"), (2L, null: String))
      .toDF("lid", "name")
    val r = Seq((10L, "Smith Jhon"), (11L, "Smith John"),
      (12L, null: String)).toDF("rid", "name")
    val out = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "tokenSort":true,"blocker":"ngram","leftId":"lid",
         "rightId":"rid"}""", l, r)
      .select("lid", "right_rid", "score")
      .as[(Long, Long, Double)].collect().toSet
    // sorted forms: "Jhon Smith" ≡ "Jhon Smith" (0 edits) and
    // "John Smith" is 2 edits away (the typo) — both match; two
    // null names never pair (concat_ws would render "" without the
    // null guard and make all nulls match each other)
    assert(out == Set((1L, 10L, 0.0), (1L, 11L, 2.0)))
    // without tokenSort the reordered pair is far apart
    val plain = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blocker":"ngram","leftId":"lid","rightId":"rid"}""", l, r)
      .select("lid", "right_rid").as[(Long, Long)].collect().toSet
    assert(plain.isEmpty)
  }

  test("inner fuzzy verify evaluates the measure exactly once in " +
      "the plan (post-join projection, not the join condition)") {
    val l = Seq((1L, "gadget-alpha")).toDF("lid", "name")
    val r = Seq((10L, "gadget-alphX")).toDF("rid", "name")
    def levCount(how: String): Int = {
      val plan = join(
        s"""{"method":"fuzzy","leftOn":"name","threshold":2,
            "blockLength":4,"how":"$how"}""", l, r)
        .queryExecution.optimizedPlan.toString.toLowerCase
      "levenshtein".r.findAllIn(plan).length
    }
    assert(levCount("inner") == 1,
      "inner verify must not duplicate into the join condition")
    // ngram path: also a single evaluation
    val ng = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blocker":"ngram","leftId":"lid","rightId":"rid"}""", l, r)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert("levenshtein".r.findAllIn(ng).length == 1)
    // and the result is unchanged
    val out = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blockLength":4}""", l, r)
      .select("lid", "right_rid", "score")
      .as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 10L, 1.0)))
  }

  test("how=left single-replica paths run a direct left join: map " +
      "columns survive, null axes and null names stay unmatched") {
    import org.apache.spark.sql.functions.{map, lit}
    val pts = Seq((1L, 15.0), (2L, 99.0)).toDF("pid", "t")
      .withColumn("t", org.apache.spark.sql.functions
        .when($"pid" === 2L, null).otherwise($"t"))
      .withColumn("attrs", map(lit("k"), lit("v")))
    val ivs = Seq((100L, 10.0, 20.0)).toDF("iid", "s", "e")
    val out = join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":5,"how":"left"}""", pts, ivs)
    val rows = out.select("pid", "right_iid")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows == Set((1L, Some(100L)), (2L, None)))
    // fuzzy prefix how=left with a null left name: kept, unmatched
    val l = Seq((1L, "gadget"), (2L, null: String)).toDF("lid", "name")
    val r = Seq((10L, "gadgex")).toDF("rid", "name")
    val fz = join(
      """{"method":"fuzzy","leftOn":"name","threshold":2,
         "blockLength":4,"how":"left"}""", l, r)
    assert(fz.count() == 2 &&
      fz.filter($"right_rid".isNull).select("lid")
        .as[Long].collect().toSeq == Seq(2L))
    // the exploded overlap path cannot identity-match map rows —
    // actionable error, not an opaque analysis failure
    val a = pts.withColumnRenamed("t", "s0")
      .withColumn("e0", $"s0" + 1.0)
    val e = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftStart":"s0","leftEnd":"e0",
         "rightStart":"s","rightEnd":"e","binWidth":5,"how":"left"}""",
      a, ivs))
    assert(e.getMessage.contains("map type"), e.getMessage)
  }

  test("prefixed right columns colliding with left names fail " +
      "actionably") {
    val l = Seq((1L, 5.0, "x")).toDF("pid", "t", "right_iid")
    val r = Seq((100L, 0.0, 10.0)).toDF("iid", "s", "e")
    val e = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":5}""", l, r))
    assert(e.getMessage.contains("rightPrefix"), e.getMessage)
  }

  test("streaming guards: interval accepts a streaming left (plan " +
      "builds stateless), fuzzy and streaming-right fail loudly") {
    val sl = spark.readStream.format("rate").load()
      .selectExpr("value AS pid", "CAST(value AS DOUBLE) AS t")
    val ivs = Seq((100L, 10.0, 20.0)).toDF("iid", "s", "e")
    // point-mode streaming left: builds, stays streaming, and the
    // logical plan carries no stateful operator (stream-static)
    val out = join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":5}""", sl, ivs)
    assert(out.isStreaming)
    // overlap + how:left needs the anti-join completion → loud
    val sl2 = sl.withColumnRenamed("t", "s0")
      .withColumn("e0", $"s0" + 1.0)
    val e1 = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftStart":"s0","leftEnd":"e0",
         "rightStart":"s","rightEnd":"e","binWidth":5,"how":"left"}""",
      sl2, ivs))
    assert(e1.getMessage.contains("anti-join completion"),
      e1.getMessage)
    // streaming right vs batch left / streaming fuzzy: actionable
    val l = Seq((1L, 5.0)).toDF("pid", "t")
    val e2 = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftOn":"t","rightStart":"s",
         "rightEnd":"e","binWidth":5}""", l,
      sl.withColumnRenamed("t", "s").withColumn("e", $"s" + 1.0)))
    assert(e2.getMessage.contains("swap the sides"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](join(
      """{"method":"fuzzy","leftOn":"name","threshold":1}""",
      sl.withColumn("name", $"pid".cast("string")),
      Seq((1L, "x")).toDF("rid", "name")))
    assert(e3.getMessage.contains("streaming"), e3.getMessage)
  }

  test("stream-stream interval join: builds watermarked (inner/left/" +
      "right/full), requires span + watermarks + timestamps; " +
      "right/full stay batch-rejected with the swap recipe") {
    val sl = spark.readStream.format("rate").load()
      .select($"value".as("event_id"), ($"value" % 5).as("u"),
        $"timestamp".as("ts"))
    val sr = spark.readStream.format("rate").load()
      .select($"value".as("wid"), ($"value" % 5).as("u"),
        $"timestamp".as("s"),
        ($"timestamp" + org.apache.spark.sql.functions
          .expr("INTERVAL 1 HOUR")).as("e"))
    val ok = join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m"}""", sl, sr)
    assert(ok.isStreaming)
    // both watermarks present in the analyzed plan; the join is
    // Spark's stream-stream machinery (no bins needed)
    val lp = ok.queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(lp).length == 2, lp)
    assert(!lp.contains("__bin"))
    val e1 = intercept[IllegalArgumentException](join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","leftWatermark":"10m",
         "rightWatermark":"10m"}""", sl, sr))
    assert(e1.getMessage.contains("maxIntervalSpan"), e1.getMessage)
    // overlap mode needs BOTH span caps: without maxLeftSpan the
    // left side's state horizon is underivable — loud requirement
    val e2 = intercept[IllegalArgumentException](join(
      """{"method":"interval","by":["u"],"leftStart":"ts",
         "leftEnd":"ts","rightStart":"s","rightEnd":"e",
         "maxIntervalSpan":"2h","leftWatermark":"10m",
         "rightWatermark":"10m"}""", sl, sr))
    assert(e2.getMessage.contains("maxLeftSpan"), e2.getMessage)
    // with both caps the overlap form builds: two watermarks, no
    // bin replication, native symmetric hash machinery
    val okO = join(
      """{"method":"interval","by":["u"],"leftStart":"ts",
         "leftEnd":"ts","rightStart":"s","rightEnd":"e",
         "maxIntervalSpan":"2h","maxLeftSpan":"30m",
         "leftWatermark":"10m","rightWatermark":"10m"}""", sl, sr)
    assert(okO.isStreaming)
    val lpO = okO.queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(lpO).length == 2, lpO)
    assert(!lpO.contains("__bin"))
    // overlap + how: left rides the same watermark-deferred null
    // emission as point mode (q166)
    val okOL = join(
      """{"method":"interval","by":["u"],"leftStart":"ts",
         "leftEnd":"ts","rightStart":"s","rightEnd":"e",
         "maxIntervalSpan":"2h","maxLeftSpan":"30m",
         "leftWatermark":"10m","rightWatermark":"10m",
         "how":"left"}""", sl, sr)
    assert(okOL.queryExecution.analyzed.toString.contains("LeftOuter"))
    // how: left builds Spark's native left-outer stream-stream join
    // (watermark-deferred null emission); right/full stay rejected —
    // point mode declares no span bound on the LEFT side
    val okL = join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m",
         "how":"left"}""", sl, sr)
    assert(okL.isStreaming)
    val lpL = okL.queryExecution.analyzed.toString
    assert(lpL.contains("LeftOuter"), lpL)
    assert("EventTimeWatermark".r.findAllIn(lpL).length == 2, lpL)
    // right/full outer build natively too (Spark's symmetric hash
    // join defers either side's unmatched rows to the watermark)
    val okR = join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m",
         "how":"right"}""", sl, sr)
    val lpR = okR.queryExecution.analyzed.toString
    assert(lpR.contains("RightOuter"), lpR)
    assert("EventTimeWatermark".r.findAllIn(lpR).length == 2, lpR)
    val okF = join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m",
         "how":"full"}""", sl, sr)
    assert(okF.queryExecution.analyzed.toString.contains("FullOuter"))
    // ...but stay BATCH-rejected, with the side-swap recipe named
    val bl = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("event_id", "u", "ts")
    val br = Seq((1L, 1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("wid", "u", "s", "e")
    val e3 = intercept[IllegalArgumentException](join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","how":"right"}""", bl, br))
    assert(e3.getMessage.contains("swap the inputs"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](join(
      """{"method":"interval","by":["u"],"leftOn":"event_id",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m"}""", sl, sr))
    assert(e4.getMessage.contains("must be a timestamp"),
      e4.getMessage)
    // stateShufflePartitions is validated > 0 (its scoping is pinned
    // through Pipeline.execute below)
    val e5 = intercept[IllegalArgumentException](join(
      """{"method":"interval","by":["u"],"leftOn":"ts",
         "rightStart":"s","rightEnd":"e","maxIntervalSpan":"2h",
         "leftWatermark":"10m","rightWatermark":"10m",
         "stateShufflePartitions":0}""", sl, sr))
    assert(e5.getMessage.contains("stateShufflePartitions"),
      e5.getMessage)
  }

  test("stateShufflePartitions: scoped to the run, restored even " +
      "when the build fails") {
    val key = "spark.sql.shuffle.partitions"
    val dir = java.nio.file.Files.createTempDirectory("graft-jssp")
      .toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, 1L, t0)).toDF("event_id", "u", "ts")
      .write.parquet(s"$dir/l")
    Seq((9L, 1L, t0, new java.sql.Timestamp(t0.getTime + 3600000L)))
      .toDF("wid", "u", "s", "e").write.parquet(s"$dir/r")
    def config(rightStart: String) = s"""
      |sources:
      |  - {name: l, module: storage, parameters: {path: $dir/l, stream: true}}
      |  - {name: r, module: storage, parameters: {path: $dir/r, stream: true}}
      |transforms:
      |  - name: jn
      |    module: join
      |    inputs: [l, r]
      |    parameters: {method: interval, by: [u], leftOn: ts,
      |      rightStart: $rightStart, rightEnd: e, maxIntervalSpan: 2h,
      |      leftWatermark: 10m, rightWatermark: 10m,
      |      stateShufflePartitions: 7}
      |sinks:
      |  - {name: jssp, module: memory, input: jn,
      |     parameters: {outputMode: append, checkpointLocation: $dir/ckpt}}
      |""".stripMargin
    val conf = spark.conf.getAll
    // the conf is scoped before the missing field fails the build
    val e = intercept[IllegalArgumentException](
      Pipeline.execute(spark, config("nosuch")))
    assert(e.getMessage.contains("'nosuch' not found"), e.getMessage)
    assert(spark.conf.getAll == conf)
    // a run that starts its query: the query keeps the per-job count,
    // the session gets its own back as soon as the run returns
    try {
      Pipeline.execute(spark, config("s"))
      assert(spark.conf.getAll == conf)
      graft.streaming.StreamRunner.drainAll()
      assert(spark.table("jssp").count() == 1L)
      val offsets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/ckpt/offsets/0")))
      assert(offsets.contains(s""""$key":"7""""), offsets)
    } finally graft.streaming.StreamRunner.stopAll()
  }

  test("reserved columns, bad method, and missing params fail " +
      "actionably") {
    val df = Seq((1L, 1.0)).toDF("id", "t")
    val e1 = intercept[IllegalArgumentException](join(
      """{"method":"nope"}""", df, df))
    assert(e1.getMessage.contains("interval, fuzzy"))
    val e2 = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftOn":"t","rightStart":"t",
         "rightEnd":"t"}""", df, df))
    assert(e2.getMessage.contains("binWidth"))
    val bad = df.withColumn("__bin", $"t")
    val e3 = intercept[IllegalArgumentException](join(
      """{"method":"interval","leftOn":"t","rightStart":"t",
         "rightEnd":"t","binWidth":1}""", bad, df))
    assert(e3.getMessage.contains("__bin"))
  }
}
