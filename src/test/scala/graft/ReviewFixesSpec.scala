package graft

import graft.config.Json
import graft.ops.SelectCompiler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for operator-core review findings: calendar
  * duration units, windowed multi-input aggregation merge, dynamic
  * destination append, config validation, crypto key bytes. */
class ReviewFixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("calendar `unit` is a bucket, not a duration multiplier") {
    import graft.streaming.Strategy
    // {unit: week, allowedLateness: 3600} used to throw "unknown time
    // unit: week"; {unit: day, allowedLateness: 600} meant 600 DAYS
    val node = Json.parse(
      """{"window": {"type": "calendar", "unit": "week",
         "allowedLateness": 3600}}""")
    val rate = spark.readStream.format("rate").load()
      .withColumn("ts", col("timestamp"))
    val wm = Strategy.applyWatermark(rate, node, "ts")
    // 3600 seconds (normalized to "1 hours"), not 3600 weeks
    val plan = wm.queryExecution.logical.toString
    assert(plan.contains("1 hours"), plan)
    // fixed windows still honor unit as a multiplier
    val fixedNode = Json.parse(
      """{"window": {"type": "fixed", "unit": "hour", "size": 6}}""")
    val w = Strategy.windowGroup(fixedNode, col("ts")).map(_.column).get
    assert(w.toString.contains("21600"), w.toString)
  }

  test("sliding window missing period raises a pointed error") {
    import graft.streaming.Strategy
    val e = intercept[IllegalArgumentException] {
      Strategy.windowGroup(
        Json.parse("""{"window": {"type": "sliding", "size": "1h"}}"""),
        col("ts")).map(_.column)
    }
    assert(e.getMessage.contains("sliding window requires period"))
  }

  test("multi-input windowed aggregation merges on window + keys") {
    val dir = java.nio.file.Files.createTempDirectory("aggw").toString
    // two inputs, same key, two distinct hours -> the merge must pair
    // rows per (window, key), not cross-pair windows
    Seq(("a", "2024-01-01 00:10:00", 1.0), ("a", "2024-01-01 01:10:00", 2.0))
      .toDF("k", "ts", "v")
      .withColumn("ts", to_timestamp(col("ts")))
      .write.mode("overwrite").parquet(s"$dir/x")
    Seq(("a", "2024-01-01 00:20:00", 10.0), ("a", "2024-01-01 01:20:00", 20.0))
      .toDF("k", "ts", "w")
      .withColumn("ts", to_timestamp(col("ts")))
      .write.mode("overwrite").parquet(s"$dir/y")
    val out = Pipeline.build(spark, s"""
      |sources:
      |  - name: x
      |    module: storage
      |    parameters: {path: "$dir/x"}
      |  - name: y
      |    module: storage
      |    parameters: {path: "$dir/y"}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [x, y]
      |    strategy:
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 1}
      |    parameters:
      |      groupFields: [k]
      |      aggregations:
      |        - input: x
      |          fields: [{name: sv, op: sum, field: v}]
      |        - input: y
      |          fields: [{name: sw, op: sum, field: w}]
      |""".stripMargin)("agg")
    // one merged row per (window, key): 2 windows x 1 key = 2 rows,
    // one 'window' column, values paired within their own hour
    assert(out.columns.count(_ == "window") === 1)
    val rows = out.orderBy("window")
      .select("sv", "sw").as[(Double, Double)].collect().toSeq
    assert(rows === Seq((1.0, 10.0), (2.0, 20.0)))
  }

  test("aggregation names an unknown input loudly") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, """
        |sources:
        |  - name: a
        |    module: create
        |    parameters:
        |      elements: [{id: 1}]
        |      schema: {fields: [{name: id, type: int64}]}
        |transforms:
        |  - name: agg
        |    module: aggregation
        |    inputs: [a]
        |    parameters:
        |      aggregations:
        |        - input: nope
        |          fields: [{name: n, op: count}]
        |""".stripMargin)
    }
    assert(e.getMessage.contains("unknown input 'nope'"))
  }

  test("dynamic destination append preserves earlier runs' data") {
    val dir = java.nio.file.Files.createTempDirectory("dynappend")
      .toString
    def run(ids: Seq[Int]): Unit = Pipeline.execute(spark, s"""
      |sources:
      |  - name: src
      |    module: create
      |    parameters:
      |      elements: [${ids.map(i => s"""{id: $i, d: "x"}""").mkString(", ")}]
      |      schema:
      |        fields:
      |          - {name: id, type: int64}
      |          - {name: d, type: string}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: src
      |    parameters:
      |      output: "$dir/out/$${d}"
      |      format: json
      |      mode: append
      |""".stripMargin)
    run(Seq(1, 2))
    run(Seq(3))
    val back = spark.read.json(s"$dir/out/x")
    assert(back.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("partition module with no partitions raises, not NoSuchElement") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, """
        |sources:
        |  - name: a
        |    module: create
        |    parameters:
        |      elements: [{id: 1}]
        |      schema: {fields: [{name: id, type: int64}]}
        |transforms:
        |  - name: p
        |    module: partition
        |    inputs: [a]
        |    parameters: {partitions: []}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("requires partitions"))
  }

  test("scrape: alternation groups, suffix attrs, quoted '>' in tags") {
    val html = """<div data-id="x" id="login" title="a > b" class="item">N/A</div>"""
    val df = Seq(html).toDF("h")
    val out = SelectCompiler(df, Json.parse(
      """[
        {"name": "v", "func": "scrape", "field": "h",
         "selector": "#login", "pattern": "(\\d+)|(N/A)"},
        {"name": "bare0", "func": "scrape", "field": "h",
         "pattern": "[a-z]+="},
        {"name": "rep", "func": "scrape", "field": "h",
         "pattern": "\"([^\"]*)\"", "mode": "repeated"}
      ]"""))
    val r = out.head
    // group 1 (\d+) did not participate — must not NPE, falls to the
    // min(group, count) participating value handling (returns null or
    // the N/A branch text depending on group index; key: no crash)
    assert(r.schema.fieldNames.contains("v"))
    // capture-free bare pattern defaults to group 0 (whole match) —
    // a hardcoded group 1 used to throw "group count is 0"
    assert(r.getAs[String]("bare0") === "id=")
    // repeated bare pattern returns all matches
    assert(r.getAs[Seq[String]]("rep") === Seq("x", "login", "a > b", "item"))
    // #login must match the id attr, not data-id; quoted '>' must not
    // truncate the tag so class=item still matches
    val sel = graft.ops.ScrapeFunctions
    import org.apache.spark.sql.functions.col
    val out2 = SelectCompiler(df, Json.parse(
      """[
        {"name": "t", "func": "scrape", "field": "h", "selector": "div.item"}
      ]"""))
    assert(out2.head.getAs[String]("t") === "N/A")
    val out3 = SelectCompiler(Seq("""<div data-id="login">no</div>""")
      .toDF("h"), Json.parse(
      """[{"name": "t", "func": "scrape", "field": "h", "selector": "#login"}]"""))
    // data-id must NOT satisfy #login (attr-name suffix bug) — no
    // element matches, so the extract is null
    assert(out3.head.getAs[String]("t") === null)
  }

  test("bytes_decode boolean and bytes roundtrip") {
    val df = Seq((true, false)).toDF("a", "b")
    val enc = SelectCompiler(df, Json.parse(
      """[
        {"name": "ab", "field": "a", "func": "bytes_encode"},
        {"name": "bb", "field": "b", "func": "bytes_encode"}
      ]"""))
    val dec = SelectCompiler(enc, Json.parse(
      """[
        {"name": "a2", "field": "ab", "func": "bytes_decode", "type": "boolean"},
        {"name": "b2", "field": "bb", "func": "bytes_decode", "type": "boolean"},
        {"name": "raw", "field": "ab", "func": "bytes_decode", "type": "bytes"}
      ]"""))
    val r = dec.head
    assert(r.getAs[Boolean]("a2") === true)
    assert(r.getAs[Boolean]("b2") === false)
    assert(r.getAs[Array[Byte]]("raw").toSeq === Seq((-1).toByte))
  }

  test("protobuf nested struct encodes by name against a reordered " +
      "descriptor") {
    import graft.ops.ProtoCodec
    import graft.ops.ProtoCodec._
    // nested message declares (a=1, b=2); the Spark struct column has
    // its fields in order (b, a)
    val schema = PbSchema(Map(
      "T" -> PbMessage("T", Vector(
        PbField("sub", 1, 1, TMessage, "N")), mapEntry = false),
      "N" -> PbMessage("N", Vector(
        PbField("a", 1, 1, TString, ""),
        PbField("b", 2, 1, TString, "")), mapEntry = false)),
      Map.empty)
    val subType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.StringType)))
    val sub = new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(Array[Any]("bval", "aval"), subType)
    val bytes = ProtoCodec.encode(schema, "T",
      org.apache.spark.sql.Row(sub))
    val got = ProtoCodec.decode(schema, "T", bytes)
    // decode emits descriptor order (a, b)
    assert(got.getStruct(0) === org.apache.spark.sql.Row("aval", "bval"))
  }

  test("context filters failure sinks like modules: untagged is " +
      "disabled, the matching tagged one runs alone") {
    // FailureConfig.applyContext (reference Config.java:380): a
    // context disables untagged failure sinks too, so tag-switched
    // destinations (untagged prod + tags:[dev]) never double-write
    val dir = java.nio.file.Files.createTempDirectory("ctxfail").toString
    Pipeline.execute(spark, s"""
      |system:
      |  failure: {union: true}
      |sources:
      |  - name: src
      |    module: create
      |    tags: [dev]
      |    parameters:
      |      elements: [{p: "oops"}, {p: "{\\"k\\": 1}"}]
      |      schema: {fields: [{name: p, type: string}]}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [src]
      |    tags: [dev]
      |    parameters:
      |      format: json
      |      field: p
      |      outputField: rec
      |      schema: {fields: [{name: k, type: int64}]}
      |failures:
      |  - name: prod
      |    module: storage
      |    parameters: {output: "$dir/prod-bad", format: json}
      |  - name: devSink
      |    module: storage
      |    tags: [dev]
      |    parameters: {output: "$dir/dev-bad", format: json}
      |""".stripMargin, context = Some("dev"))
    assert(spark.read.json(s"$dir/dev-bad").count() === 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/prod-bad")))
  }

  test("context filters MODULE-scoped failure sinks by the same rule") {
    val dir = java.nio.file.Files.createTempDirectory("ctxmodf").toString
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: src
      |    module: create
      |    tags: [dev]
      |    parameters:
      |      elements: [{p: "oops"}, {p: "{\\"k\\": 1}"}]
      |      schema: {fields: [{name: p, type: string}]}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [src]
      |    tags: [dev]
      |    failures:
      |      - name: prod
      |        module: storage
      |        parameters: {output: "$dir/prod-bad", format: json}
      |      - name: devSink
      |        module: storage
      |        tags: [dev]
      |        parameters: {output: "$dir/dev-bad", format: json}
      |    parameters:
      |      format: json
      |      field: p
      |      outputField: rec
      |      schema: {fields: [{name: k, type: int64}]}
      |""".stripMargin, context = Some("dev"))
    assert(spark.read.json(s"$dir/dev-bad").count() === 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/prod-bad")))
  }

  test("waits on a sink runs its write before the waiter builds " +
      "(read-after-write)") {
    val dir = java.nio.file.Files.createTempDirectory("waits").toString
    val out = Pipeline.execute(spark, s"""
      |sources:
      |  - name: src
      |    module: create
      |    parameters:
      |      elements: [{id: 1}, {id: 2}]
      |      schema: {fields: [{name: id, type: int64}]}
      |  - name: back
      |    module: storage
      |    waits: [wr]
      |    parameters: {path: "$dir/staged"}
      |sinks:
      |  - name: wr
      |    module: storage
      |    input: src
      |    parameters: {output: "$dir/staged", format: parquet}
      |  - name: snk
      |    module: storage
      |    input: back
      |    parameters: {output: "$dir/final", format: parquet}
      |""".stripMargin)
    assert(spark.read.parquet(s"$dir/final").count() === 2)
  }

  test("CacheTracker scopes are isolated: closing one run's scope " +
      "releases its frames only") {
    import graft.ops.CacheTracker
    val outer = CacheTracker.beginScope()
    val a = CacheTracker.trackPersist(Seq(1, 2).toDF("x"))
    a.count()
    // nested scope (alterConfig retry / reentrant execute): its
    // release must not touch the outer scope's frames
    val inner = CacheTracker.beginScope()
    val b = CacheTracker.trackPersist(Seq(3).toDF("y"))
    b.count()
    inner.close(release = true)
    Thread.sleep(200) // unpersist is async
    assert(a.storageLevel.useMemory, "outer frame released by inner scope")
    assert(!b.storageLevel.useMemory, "inner frame not released")
    outer.close(release = true)
    Thread.sleep(200)
    assert(!a.storageLevel.useMemory, "outer frame survived its close")
  }

  test("tap normalizes unknown logging levels so they cannot forge " +
      "the streaming delivery marker") {
    // a config typo of `level: s` would otherwise build the metric
    // name "m.n|s", which the batch listener skips as stream-marked
    // and the tap silently vanishes
    val df = Seq(1, 2, 3).toDF("v")
    graft.LoggingTaps.register(spark)
    graft.LoggingTaps.observed.remove("m.n|info")
    graft.LoggingTaps.tap(df, "m", "n", "s").count()
    val eventually = (1 to 50).exists { _ =>
      val m = graft.LoggingTaps.observed.get("m.n|info")
      if (m == null) { Thread.sleep(100); false }
      else { assert(m("count") == 3L); true }
    }
    assert(eventually, "tap with unknown level never surfaced")
  }

  test("jaccardDistinct equals the two-set jaccard on distinct arrays") {
    import graft.functions.TextFunctions.{jaccard, jaccardDistinct}
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      def arr() = rnd.shuffle(('a' to 'z').map(_.toString))
        .take(1 + rnd.nextInt(25)).toSeq
      (i, arr(), arr())
    }
    val df = rows.toDF("i", "a", "b")
      .select(jaccard($"a", $"b").as("j"),
        jaccardDistinct($"a", $"b").as("jd"))
    // bit-identical, not approximately equal: the identity
    // |a∪b| = |a|+|b|−|a∩b| holds exactly for distinct inputs
    assert(df.filter($"j" =!= $"jd" ||
      ($"j".isNull =!= $"jd".isNull)).count() === 0)
  }

  test("logging taps on a sink module emit through the sink's write") {
    // the sink action must execute the TAPPED frame — building the
    // action from the raw input silently skipped sink-level taps
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sinktap").toString
    graft.LoggingTaps.observed.remove("snk.snk|info")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: li
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/region.parquet}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: li
      |    loggings: [{name: snk, level: info}]
      |    parameters: {output: "$dir/out", format: parquet}
      |""".stripMargin)
    val eventually = (1 to 50).exists { _ =>
      val m = graft.LoggingTaps.observed.get("snk.snk|info")
      if (m == null) { Thread.sleep(100); false }
      else { assert(m("count") == 5L); true }
    }
    assert(eventually, "sink tap never emitted")
  }

  test("a declared non-global window with no event time fails loudly") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, """
        |sources:
        |  - name: r
        |    module: storage
        |    parameters: {path: /root/testdata/sf0.001/region.parquet}
        |transforms:
        |  - name: agg
        |    module: aggregation
        |    inputs: [r]
        |    strategy:
        |      window: {type: fixed, unit: minute, size: 1}
        |    parameters:
        |      aggregations:
        |        - input: r
        |          fields: [{name: n, op: count}]
        |""".stripMargin)
    }
    assert(e.getMessage.contains("no event time"))
  }

  test("stateful rejects offset < 1 on both legs") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, """
        |sources:
        |  - name: li
        |    module: storage
        |    parameters: {path: /root/testdata/sf0.001/lineitem.parquet}
        |transforms:
        |  - name: st
        |    module: stateful
        |    inputs: [li]
        |    parameters:
        |      groupFields: [l_suppkey]
        |      orderField: l_shipdate
        |      fields: [{name: prev, field: l_quantity, offset: 0}]
        |""".stripMargin)
    }
    assert(e.getMessage.contains("offset"))
  }

  test("crypto validates the key's UTF-8 byte length") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, """
        |sources:
        |  - name: a
        |    module: create
        |    parameters:
        |      elements: [{s: "x"}]
        |      schema: {fields: [{name: s, type: string}]}
        |transforms:
        |  - name: c
        |    module: crypto
        |    inputs: [a]
        |    parameters: {mode: encrypt, key: "0123456789abcdéü", fields: [s]}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("UTF-8 bytes"))
  }
}
