package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("example transform: unions inputs and passes rows through") {
    val out = Pipeline.build(spark, """
      |sources:
      |  - name: a
      |    module: create
      |    parameters:
      |      elements: [{id: 1}, {id: 2}]
      |      schema: {fields: [{name: id, type: int64}]}
      |  - name: b
      |    module: create
      |    parameters:
      |      elements: [{id: 3}]
      |      schema: {fields: [{name: id, type: int64}]}
      |transforms:
      |  - name: ex
      |    module: example
      |    inputs: [a, b]
      |""".stripMargin)("ex")
    assert(out.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("kafka/iceberg registry slots: config validates, jar error is actionable") {
    // kafka: config errors fire before any jar lookup
    val noServers = intercept[IllegalArgumentException] {
      Pipeline.sources("kafka")(spark,
        Pipeline.ModuleCfg("k", "kafka", Nil, Nil,
          graft.config.Json.parse("""{"topic": "t"}"""),
          graft.config.Json.obj()), Map.empty)
    }
    assert(noServers.getMessage.contains("bootstrapServers"))
    val noTopic = intercept[IllegalArgumentException] {
      Pipeline.sources("kafka")(spark,
        Pipeline.ModuleCfg("k", "kafka", Nil, Nil,
          graft.config.Json.parse("""{"bootstrapServers": "b:9092"}"""),
          graft.config.Json.obj()), Map.empty)
    }
    assert(noTopic.getMessage.contains("topic"))
    // jar absent in this environment → actionable error naming it
    val noJar = intercept[IllegalStateException] {
      Pipeline.sources("kafka")(spark,
        Pipeline.ModuleCfg("k", "kafka", Nil, Nil,
          graft.config.Json.parse(
            """{"bootstrapServers": "b:9092", "topic": "t"}"""),
          graft.config.Json.obj()), Map.empty)
    }
    assert(noJar.getMessage.contains("spark-sql-kafka"))
    val noIce = intercept[IllegalStateException] {
      Pipeline.sources("iceberg")(spark,
        Pipeline.ModuleCfg("i", "iceberg", Nil, Nil,
          graft.config.Json.parse("""{"table": "db.t"}"""),
          graft.config.Json.obj()), Map.empty)
    }
    assert(noIce.getMessage.contains("iceberg-spark-runtime"))
  }

  test("jdbc upsert statements per dialect; websocket builds a " +
      "streaming plan") {
    import graft.operators.JdbcSink
    assert(JdbcSink.upsertStatement("mysql", "t",
      Seq("id", "a", "b"), Seq("id"), "insertOrUpdate") ==
      "INSERT INTO t (id,a,b) VALUES (?,?,?) ON DUPLICATE KEY UPDATE " +
        "`a` = VALUES(`a`),`b` = VALUES(`b`)")
    assert(JdbcSink.upsertStatement("postgresql", "t",
      Seq("id", "a"), Seq("id"), "insertOrDoNothing") ==
      "INSERT INTO t (id,a) VALUES (?,?) ON CONFLICT (id) DO NOTHING")
    assert(JdbcSink.upsertStatement("postgresql", "t",
      Seq("id", "a"), Seq("id"), "insertOrUpdate") ==
      "INSERT INTO t (id,a) VALUES (?,?) ON CONFLICT (id) " +
        "DO UPDATE SET a = EXCLUDED.a")
    val merge = JdbcSink.upsertStatement("sqlserver", "t",
      Seq("id", "a"), Seq("id"), "insertOrUpdate")
    assert(merge.startsWith("MERGE INTO t AS T USING (VALUES (?,?))"))
    assert(merge.contains("WHEN MATCHED THEN UPDATE SET T.a = S.a"))
    assert(merge.contains("WHEN NOT MATCHED THEN INSERT (id,a)"))
    assert(JdbcSink.dialect("jdbc:postgresql://h/db") == "postgresql")
    // websocket now builds a real streaming frame (no connection is
    // opened at build time — the MicroBatchStream connects on query
    // start); json format parses to schema'd columns + .failures
    val ws = Pipeline.sources("websocket")(spark,
      Pipeline.ModuleCfg("w", "websocket", Nil, Nil,
        graft.config.Json.parse(
          """{"endpoint": "ws://127.0.0.1:1/", "format": "json",
             "schema": {"fields": [{"name": "k", "type": "int64"}]}}"""),
        graft.config.Json.obj()), Map.empty)
    assert(ws("w").isStreaming)
    assert(ws("w").columns.contains("k"))
    assert(ws.contains("w.failures"))
    val noEp = intercept[IllegalArgumentException] {
      Pipeline.sources("websocket")(spark,
        Pipeline.ModuleCfg("w", "websocket", Nil, Nil,
          graft.config.Json.obj(), graft.config.Json.obj()), Map.empty)
    }
    assert(noEp.getMessage.contains("endpoint"))
  }

  test("window processing: rolling regression and linear filter") {
    val rows = Seq(
      ("k", 1L, 2.0), ("k", 2L, 4.0), ("k", 3L, 6.0), ("k", 4L, 8.0))
      .toDF("k", "t", "v")
    val dfs = Pipeline.transforms("window")(spark,
      Pipeline.ModuleCfg("w", "window", Seq("in"), Nil,
        graft.config.Json.parse("""{
          "groupFields": ["k"], "orderField": "t",
          "fields": [
            {"name": "reg", "func": "linear_regression", "field": "v",
             "range": {"count": 3}},
            {"name": "smooth", "func": "linear_filter", "field": "v",
             "coefficients": [0.5, 0.5]}]}"""),
        graft.config.Json.obj()), Map("in" -> rows))
    val out = dfs("w").orderBy("t").collect()
    // v = 2t exactly → rolling slope 2, rmse 0 once 2+ points exist
    val last = out.last
    val reg = last.getAs[org.apache.spark.sql.Row]("reg")
    assert(math.abs(reg.getAs[Double]("slope") - 2.0) < 1e-9)
    assert(math.abs(reg.getAs[Double]("rmse")) < 1e-9)
    // FIR smoother: 0.5*v + 0.5*lag(v)
    assert(last.getAs[Double]("smooth") == 7.0)
    assert(out.head.isNullAt(out.head.fieldIndex("smooth"))) // no lag yet
  }

  test("limit: outputStartAt drops rows before the event-time cutoff") {
    val rows = Seq(
      ("a", "2024-01-01 00:00:00", 1), ("a", "2024-01-20 00:00:00", 2),
      ("a", "2024-01-25 00:00:00", 3), ("b", "2024-01-10 00:00:00", 4))
      .toDF("k", "tss", "id")
      .withColumn("t", to_timestamp(col("tss"))).drop("tss")
    val dfs = Pipeline.transforms("limit")(spark,
      Pipeline.ModuleCfg("l", "limit", Seq("in"), Nil,
        graft.config.Json.parse("""{"count": 1, "keyFields": ["k"],
          "orderField": "t", "outputStartAt": "2024-01-15 00:00:00"}"""),
        graft.config.Json.obj()), Map("in" -> rows))
    val out = dfs("l").select("id").as[Int].collect().sorted.toSeq
    // a: first row at/after the cutoff is id=2; b: all rows before
    // the cutoff → nothing
    assert(out == Seq(2))
  }

  test("microbatch: tick-to-range mapping is contiguous and gap-safe") {
    import graft.operators.MicrobatchSource.tickRanges
    val start = 1000L; val I = 60L; val gap = 30L; val maxD = 3600L
    // stream starts 5 intervals after startDatetime: first tick
    // emits the whole safe backlog
    val t0 = start + 5 * I
    val first = tickRanges(t0, 0L, start, I, gap, maxD)
    assert(first == Seq((1000L, 1060L), (1060L, 1120L), (1120L, 1180L),
      (1180L, 1240L)))       // 4 ranges: 5th interval not yet gap-safe
    // subsequent per-second ticks emit nothing until a new range
    // becomes safe, then exactly one — contiguously
    val emitted = (1L to 3 * I).flatMap(s =>
      tickRanges(t0 + s, s, start, I, gap, maxD))
    assert(emitted == Seq((1240L, 1300L), (1300L, 1360L), (1360L, 1420L)))
    // union of first + subsequent is gapless and non-overlapping
    val all = first ++ emitted
    assert(all.sliding(2).forall { case Seq(a, b) => a._2 == b._1 })
    // maxDuration clamps the range length
    val clamped = tickRanges(start + 10000, 0L, start, 7200L, 0L, 3600L)
    assert(clamped.forall { case (p, e) => e - p <= 3600L })
  }

  test("microbatch: range variable substitution and file fallback") {
    import graft.operators.MicrobatchSource
    val sql = """SELECT * FROM t
      WHERE c >= TIMESTAMP_SECONDS(${__EVENT_EPOCH_SECOND_PRE__})
        AND c < TIMESTAMP_SECONDS(${__EVENT_EPOCH_SECOND__})
        AND m < ${__EVENT_EPOCH_MILLISECOND__}
        AND i < '${__EVENT_DATETIME_ISO__}'"""
    val s = MicrobatchSource.substitute(sql, 1700000000L, 1700000060L)
    assert(s.contains("TIMESTAMP_SECONDS(1700000000)"))
    assert(s.contains("TIMESTAMP_SECONDS(1700000060)"))
    assert(s.contains("m < 1700000060000"))
    assert(s.contains("i < '2023-11-14T22:14:20Z'"))
    // without url/sql the module keeps the file-stream alias
    val dir = java.nio.file.Files.createTempDirectory("mb").toString
    spark.range(3).toDF("v").write.mode("overwrite").parquet(s"$dir/d")
    val dfs = Pipeline.sources("microbatch")(spark,
      Pipeline.ModuleCfg("m", "microbatch", Nil, Nil,
        graft.config.Json.parse(
          s"""{"path": "$dir/d", "stream": true}"""),
        graft.config.Json.obj()), Map.empty)
    assert(dfs("m").isStreaming)
  }

  test("sql module: named and positional parameters") {
    val rows = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag")
    def run(params: String) = Pipeline.transforms("sql")(spark,
      Pipeline.ModuleCfg("q", "sql", Seq("rows"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("rows" -> rows))("q")
    val named = run("""{"sql": "SELECT id FROM rows WHERE id > :lo AND tag <> :skip",
      "namedParameters": {"lo": 1, "skip": "c"}}""")
    assert(named.as[Int].collect().toSeq == Seq(2))
    val positional = run("""{"sql": "SELECT id FROM rows WHERE id > ? AND tag <> ?",
      "positionalParameters": [1, "c"]}""")
    assert(positional.as[Int].collect().toSeq == Seq(2))
  }

  test("sql module: MDT_* reference UDFs and UDAF rewrites") {
    val rows = Seq((1L, 2L, 1.5, "a"), (1L, 5L, 0.5, "b"),
      (2L, 3L, 2.5, "a")).toDF("k", "v", "f", "tag")
    def run(sql: String) = Pipeline.transforms("sql")(spark,
      Pipeline.ModuleCfg("q", "sql", Seq("rows"), Nil,
        graft.config.Json.parse(
          s"""{"sql": "${sql.replace("\"", "\\\"")}"}"""),
        graft.config.Json.obj()),
      Map("rows" -> rows))("q")
    val r1 = run("SELECT MDT_GREATEST_INT64(k, v) AS g, " +
      "MDT_LEAST_FLOAT64(f, 1.0) AS l FROM rows WHERE k = 2")
      .collect()(0)
    assert(r1.getAs[Long]("g") == 3L && r1.getAs[Double]("l") == 1.0)
    val r2 = run("SELECT k, MDT_ARRAY_AGG_INT64(v) AS vs, " +
      "MDT_COUNT_DISTINCT_STRING(tag) AS nt FROM rows " +
      "GROUP BY k ORDER BY k").collect()
    assert(r2(0).getSeq[Long](1).sorted == Seq(2L, 5L))
    assert(r2(0).getAs[Long]("nt") == 2L)
    val r3 = run("SELECT MDT_CONTAINS_ALL_STRING(" +
      "MDT_ARRAY_AGG_STRING(tag), array('a','b')) AS c FROM rows")
      .collect()(0)
    assert(r3.getAs[Boolean]("c"))
    assert(run("SELECT MDT_GENERATE_UUID() AS u FROM rows LIMIT 1")
      .collect()(0).getAs[String]("u").length == 36)
  }

  test("aggregation limit: full limit config applies per-key top-N") {
    val rows = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 5.0),
      ("b", 1, 7.0), ("b", 2, 30.0)).toDF("g", "sub", "v")
    val dfs = Pipeline.transforms("aggregation")(spark,
      Pipeline.ModuleCfg("agg", "aggregation", Seq("in"), Nil,
        graft.config.Json.parse("""{
          "groupFields": ["g", "sub"],
          "aggregations": [{"input": "in", "fields": [
            {"name": "total", "op": "sum", "field": "v"}]}],
          "limit": {"count": 1, "keyFields": ["g"],
                    "orderField": "total", "order": "descending"}}"""),
        graft.config.Json.obj()), Map("in" -> rows))
    val out = dfs("agg").orderBy("g").collect()
    // top-1 total per g: a -> (a,2,20), b -> (b,2,30)
    assert(out.length == 2)
    assert(out(0).getAs[Double]("total") == 20.0)
    assert(out(1).getAs[Double]("total") == 30.0)
  }

  test("crypto: aes encrypt/decrypt round-trips") {
    val config = """
      |sources:
      |  - name: c
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/customer.parquet}
      |transforms:
      |  - name: enc
      |    module: crypto
      |    inputs: [c]
      |    parameters:
      |      mode: encrypt
      |      key: "0123456789abcdef"
      |      fields: [c_name]
      |      suffix: _enc
      |  - name: dec
      |    module: crypto
      |    inputs: [enc]
      |    parameters:
      |      mode: decrypt
      |      key: "0123456789abcdef"
      |      fields: [c_name_enc]
      |      suffix: _dec
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val bad = dfs("dec")
      .filter($"c_name" =!= $"c_name_enc_dec").count()
    assert(bad == 0)
    // ciphertext actually differs from plaintext
    assert(dfs("enc").select($"c_name_enc").schema.head.dataType.typeName
      == "binary")
  }

  test("multimodal: decode/resize/embed plumbing over binary column") {
    val media = Seq(
      (1L, "IMG:640x480x3:payloadpayload".getBytes("ISO-8859-1")),
      (2L, "IMG:1024x768x3:otherpayload".getBytes("ISO-8859-1")),
      (3L, "not-an-image".getBytes("ISO-8859-1")),
      (4L, null.asInstanceOf[Array[Byte]])
    ).toDF("media_id", "content")

    val cfg = Pipeline.ModuleCfg("mm", "multimodal", Seq("in"), Nil,
      graft.config.Json.parse("""
        {"ops": [
          {"op": "decode", "field": "content", "name": "meta"},
          {"op": "resize", "field": "content", "name": "thumb",
           "width": 64, "height": 64},
          {"op": "embed", "field": "content", "name": "vec", "dim": 16},
          {"op": "frame_sample", "field": "content", "name": "frames",
           "frames": 3}
        ]}"""), graft.config.Json.obj())
    val out = graft.operators.MultimodalTransform
      .build(spark, cfg, Map("in" -> media))("mm")
    val rows = out.collect().map(r =>
      r.getAs[Long]("media_id") -> r).toMap
    assert(rows(1L).getAs[org.apache.spark.sql.Row]("meta")
      .getAs[Int]("width") == 640)
    assert(!rows(3L).getAs[org.apache.spark.sql.Row]("meta")
      .getAs[Boolean]("ok"))
    assert(!rows(4L).getAs[org.apache.spark.sql.Row]("meta")
      .getAs[Boolean]("ok"))
    assert(new String(rows(1L).getAs[Array[Byte]]("thumb"), "ISO-8859-1")
      .startsWith("IMG:64x64x3:"))
    assert(rows(2L).getAs[scala.collection.Seq[Float]]("vec").size == 16)
    assert(rows(1L).getAs[scala.collection.Seq[Array[Byte]]]("frames").size == 3)
    // determinism: same content → same embedding
    val v1 = graft.operators.MultimodalTransform.StubCodecs
      .embed("abc".getBytes, 8).toSeq
    val v2 = graft.operators.MultimodalTransform.StubCodecs
      .embed("abc".getBytes, 8).toSeq
    assert(v1 == v2)
  }

  test("stateful lag: batch matches window-function semantics") {
    val config = """
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/events.parquet}
      |transforms:
      |  - name: st
      |    module: stateful
      |    inputs: [ev]
      |    parameters:
      |      groupFields: [user_id]
      |      orderField: ts
      |      fields:
      |        - {name: prev_v, field: value, offset: 1}
      |        - {name: prev2_v, field: value, offset: 2}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val got = dfs("st")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val exp = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("prev_v", lag($"value", 1).over(w))
      .withColumn("prev2_v", lag($"value", 2).over(w))
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("stateful lag: streaming buffer across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stateful")
      .toString
    val ev = TestSpark.events("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(s"$dir/in")
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: st
      |    module: stateful
      |    inputs: [ev]
      |    parameters:
      |      groupFields: [user_id]
      |      orderField: ts
      |      fields:
      |        - {name: prev_v, field: value, offset: 1}
      |sinks:
      |  - name: lagged
      |    module: memory
      |    input: st
      |    parameters: {outputMode: append}
      |""".stripMargin
    Pipeline.execute(spark, config)
    StreamRunner.drainAll()
    val got = spark.sql("SELECT user_id, ts, value, prev_v FROM lagged")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val exp = spark.read.parquet(s"$dir/in")
      .select($"user_id", $"ts", $"value",
        lag($"value", 1).over(w).as("prev_v"))
    assert(got.count() == 1000)
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
    StreamRunner.stopAll()
  }

  test("deserialize dead-letter: malformed payloads route to .failures") {
    val config = """
      |sources:
      |  - name: raw
      |    module: create
      |    parameters:
      |      elements:
      |        [{"id": 1, "payload": "{\"k\": 7}"},
      |         {"id": 2, "payload": "not json"},
      |         {"id": 3, "payload": "{\"k\": 9}"},
      |         {"id": 4, "payload": null}]
      |      schema:
      |        fields:
      |          - {name: id, type: int64}
      |          - {name: payload, type: string}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [raw]
      |    parameters:
      |      field: payload
      |      outputField: p
      |      format: json
      |      schema: {fields: [{name: k, type: int64}]}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    assert(dfs("de").count() == 3) // null payload passes through (null p)
    assert(dfs("de.failures").select("id").as[Long].collect().toSet
      == Set(2L))
  }

  test("serialize avro -> deserialize avro round-trips; corrupt bytes route to .failures") {
    val rows = Seq(
      (1L, "alpha", 1.5, Seq(1L, 2L), ("x", 7L)),
      (2L, null.asInstanceOf[String], -0.25, Seq.empty[Long], ("y", 8L)),
      (3L, "gamma", 0.0, Seq(42L), null.asInstanceOf[(String, Long)])
    ).toDF("id", "name", "score", "tags", "nested")
    val ser = graft.operators.SerializeTransform.build(spark,
      graft.Pipeline.ModuleCfg("ser", "serialize", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"format":"avro",
              "fields":["id","name","score","tags","nested"],
              "outputField":"payload"}"""),
        graft.config.Json.obj()),
      Map("d" -> rows))("ser")
    assert(ser.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // corrupt one payload to exercise the dead-letter route
    val mangled = ser.select($"id", $"payload").withColumn("payload",
      when($"id" === 2L, lit(Array[Byte](1, 2))).otherwise($"payload"))
    val dfs = graft.operators.DeserializeTransform.build(spark,
      graft.Pipeline.ModuleCfg("de", "deserialize", Seq("m"), Nil,
        graft.config.Json.parse(
          """{"format":"avro","field":"payload","outputField":"rec",
              "schema":{"fields":[
                {"name":"id","type":"int64"},
                {"name":"name","type":"string"},
                {"name":"score","type":"float64"},
                {"name":"tags","type":"int64","mode":"repeated"},
                {"name":"nested","type":"struct","fields":[
                  {"name":"_1","type":"string"},
                  {"name":"_2","type":"int64"}]}]}}"""),
        graft.config.Json.obj()),
      Map("m" -> mangled))
    // Note: a 2-byte buffer CAN decode under some schemas (avro binary
    // is not self-describing) — here it cannot satisfy the record
    // layout, so it must land in failures
    assert(dfs("de.failures").select("id").as[Long].collect().toSet
      == Set(2L))
    val back = dfs("de")
      .select($"rec.id", $"rec.name", $"rec.score", $"rec.tags",
        $"rec.nested")
      .as[(Long, String, Double, Seq[Long], (String, Long))]
      .collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      (1L, "alpha", 1.5, Seq(1L, 2L), ("x", 7L)),
      (3L, "gamma", 0.0, Seq(42L), null.asInstanceOf[(String, Long)])))
  }

  test("deserialize csv dead-letter: malformed lines route via corrupt record") {
    val config = """
      |sources:
      |  - name: raw
      |    module: create
      |    parameters:
      |      elements:
      |        [{"id": 1, "line": "7,ok,1.5"},
      |         {"id": 2, "line": "oops"},
      |         {"id": 3, "line": "9,fine,2.25"}]
      |      schema:
      |        fields:
      |          - {name: id, type: int64}
      |          - {name: line, type: string}
      |transforms:
      |  - name: de
      |    module: deserialize
      |    inputs: [raw]
      |    parameters:
      |      field: line
      |      format: csv
      |      flatten: true
      |      schema:
      |        fields:
      |          - {name: k, type: int64}
      |          - {name: s, type: string}
      |          - {name: v, type: float64}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    // outputField defaults to the input field: the all-null-struct
    // PERMISSIVE result must still be detected as malformed
    assert(dfs("de").select("k").as[Long].collect().toSet == Set(7L, 9L))
    assert(dfs("de.failures").select("id").as[Long].collect().toSet
      == Set(2L))
  }

  test("processing alias accepts reference stages/steps config shape") {
    val rows = Seq(("k", 1L, 2.0), ("k", 2L, 5.0), ("k", 3L, 8.0))
      .toDF("k", "t", "v")
    val dfs = Pipeline.transforms("processing")(spark,
      Pipeline.ModuleCfg("p", "processing", Seq("in"), Nil,
        graft.config.Json.parse("""{
          "orderField": "t",
          "stages": [{"groupFields": ["k"], "steps": [
            {"name": "running", "type": "sum", "input": "v"},
            {"name": "prev", "type": "lag", "input": "v"}]}]}"""),
        graft.config.Json.obj()), Map("in" -> rows))
    val out = dfs("p").orderBy("t").collect()
    assert(out.map(_.getAs[Double]("running")).toSeq ==
      Seq(2.0, 7.0, 15.0))
    assert(out.last.getAs[Double]("prev") == 5.0)
  }

  test("union keyed mode attaches the commonFields group key") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((2, "y")).toDF("k", "v")
    val dfs = Pipeline.transforms("union")(spark,
      Pipeline.ModuleCfg("u", "union", Seq("a", "b"), Nil,
        graft.config.Json.parse("""{"commonFields": ["k", "v"]}"""),
        graft.config.Json.obj()), Map("a" -> a, "b" -> b))
    val keys = dfs("u").select("__union_key").as[String].collect().toSet
    assert(keys == Set("1#x", "2#y"))
  }

  test("union key keeps null field positions; no prefix collisions") {
    val a = Seq(("a", Option.empty[String], Some("b")),
      ("a", Some("b"), Option.empty[String])).toDF("x", "y", "z")
    val dfs = Pipeline.transforms("union")(spark,
      Pipeline.ModuleCfg("u", "union", Seq("a"), Nil,
        graft.config.Json.parse("""{"commonFields": ["x", "y", "z"]}"""),
        graft.config.Json.obj()), Map("a" -> a))
    val keys = dfs("u").select("__union_key").as[String].collect().toSet
    // null fields coalesce to "" but keep their slot: the two rows
    // must produce DISTINCT keys
    assert(keys == Set("a##b", "a#b#"))
  }

  test("processing: multiple stages run sequentially over their own keys") {
    val rows = Seq(
      ("g1", "h1", 1L, 1.0), ("g1", "h2", 2L, 2.0),
      ("g2", "h1", 3L, 4.0), ("g2", "h2", 4L, 8.0))
      .toDF("g", "h", "t", "v")
    val dfs = Pipeline.transforms("processing")(spark,
      Pipeline.ModuleCfg("p", "processing", Seq("in"), Nil,
        graft.config.Json.parse("""{
          "orderField": "t",
          "stages": [
            {"groupFields": ["g"], "steps": [
              {"name": "sum_g", "type": "sum", "input": "v"}]},
            {"groupFields": ["h"], "steps": [
              {"name": "sum_h", "type": "sum", "input": "sum_g"}]}]}"""),
        graft.config.Json.obj()), Map("in" -> rows))
    val out = dfs("p").orderBy("t").collect()
    // stage 1 partitions by g: running sums 1,3 | 4,12
    assert(out.map(_.getAs[Double]("sum_g")).toSeq ==
      Seq(1.0, 3.0, 4.0, 12.0))
    // stage 2 partitions by h over stage-1 output: h1→1,5; h2→3,15
    assert(out.map(_.getAs[Double]("sum_h")).toSeq ==
      Seq(1.0, 3.0, 5.0, 15.0))
  }

  test("limit: order parsing is case-insensitive") {
    val rows = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v")
    def run(order: String) = Pipeline.transforms("limit")(spark,
      Pipeline.ModuleCfg("l", "limit", Seq("in"), Nil,
        graft.config.Json.parse(
          s"""{"count": 1, "orderField": "v", "order": "$order"}"""),
        graft.config.Json.obj()), Map("in" -> rows))("l")
      .select("id").as[Int].collect().toSeq
    assert(run("ASCENDING") == Seq(1))
    assert(run("Descending") == Seq(3))
  }

  test("set module: intersect and except") {
    val config = """
      |sources:
      |  - name: li
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/lineitem.parquet}
      |transforms:
      |  - name: pa
      |    module: select
      |    inputs: [li]
      |    parameters:
      |      filter: [{key: l_quantity, op: ">", value: 25}]
      |      select: [{name: l_orderkey}]
      |  - name: pb
      |    module: select
      |    inputs: [li]
      |    parameters:
      |      filter: [{key: l_returnflag, op: "=", value: R}]
      |      select: [{name: l_orderkey}]
      |  - name: both
      |    module: set
      |    inputs: [pa, pb]
      |    parameters: {op: intersect}
      |  - name: onlyA
      |    module: set
      |    inputs: [pa, pb]
      |    parameters: {op: except}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val a = dfs("pa").distinct.count(); val b = dfs("both").count()
    val ex = dfs("onlyA").count()
    assert(b > 0 && ex > 0 && b + ex == a)
  }

  test("streaming per-key limit: first-N in time order across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slimit")
      .toString
    TestSpark.events("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/in")
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: firstTwo
      |    module: limit
      |    inputs: [ev]
      |    parameters: {count: 2, keyFields: [user_id], orderField: ts, order: ascending}
      |sinks:
      |  - name: limited
      |    module: memory
      |    input: firstTwo
      |    parameters: {outputMode: append}
      |""".stripMargin
    Pipeline.execute(spark, config)
    graft.streaming.StreamRunner.drainAll()
    val got = spark.sql("SELECT user_id, ts, event_id FROM limited")
    // at most 2 per user, and they are that user's 2 earliest events
    val perUser = got.groupBy("user_id").count()
    assert(perUser.agg(max("count")).as[Long].head() <= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts")
    val exp = spark.read.parquet(s"$dir/in")
      .withColumn("rn", row_number().over(w)).filter($"rn" <= 2)
      .select("user_id", "ts", "event_id")
    assert(got.except(exp).count() == 0)
    graft.streaming.StreamRunner.stopAll()
  }

  test("similarity IVF: recall vs brute force on sf0.001") {
    def knn(method: String, extra: String = "") = Pipeline.build(spark, s"""
      |sources:
      |  - name: emb
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/embeddings.parquet}
      |transforms:
      |  - name: q
      |    module: filter
      |    inputs: [emb]
      |    parameters:
      |      filter: [{key: vec_id, op: "<", value: 20}]
      |  - name: knn
      |    module: similarity
      |    inputs: [emb, q]
      |    parameters: {method: $method, field: embedding, idField: vec_id, k: 10$extra}
      |""".stripMargin)("knn")
    val exact = knn("bruteforce").select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivf = knn("ivf", ", centroids: 8, nProbe: 4")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall > 0.6, s"IVF recall $recall")
    assert(ivf.forall { case (q, n) => q < 20 && n != q })
  }

  test("window range duration frame on a numeric (long) order column") {
    // derive an epoch-seconds long from ts (the expression compiler's
    // timestamp→micros convention, encoding-agnostic); a duration
    // frame must order on the numeric value itself, not
    // unix_timestamp(string-parse)
    val config = """
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/events.parquet}
      |transforms:
      |  - name: secs
      |    module: select
      |    inputs: [ev]
      |    parameters:
      |      select:
      |        - {name: user_id}
      |        - {name: value}
      |        - {name: s, expression: "floor(ts / 1000000)", type: int64}
      |  - name: w
      |    module: window
      |    inputs: [secs]
      |    parameters:
      |      groupFields: [user_id]
      |      orderField: s
      |      fields:
      |        - {name: roll, func: sum, field: value, range: {duration: 3600}}
      |""".stripMargin
    val got = Pipeline.build(spark, config)("w")
    // a numeric order key must never produce an all-null frame order:
    // every row's trailing sum includes at least its own value
    val bad = got.filter($"roll".isNull || $"roll" < $"value" - 1e-6)
      .count()
    assert(bad == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"s")
      .rangeBetween(-3600L, 0L)
    val exp = TestSpark.events("/root/testdata/sf0.001/events.parquet")
      .select($"user_id", $"value",
        floor(unix_micros($"ts") / 1000000L).cast("long").as("s"))
      .withColumn("roll", sum($"value").over(w))
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
  }

  test("window with no groupFields requires an explicit global opt-in " +
      "(an accidental omission single-partitions the whole input)") {
    def cfg(extra: String) = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/events.parquet}
      |transforms:
      |  - name: w
      |    module: window
      |    inputs: [ev]
      |    parameters:$extra
      |      orderField: ts
      |      fields:
      |        - {name: rn, func: row_number}
      |""".stripMargin
    val e = intercept[IllegalArgumentException](
      Pipeline.build(spark, cfg(""))("w").collect())
    assert(e.getMessage.contains("no groupFields") &&
      e.getMessage.contains("global: true"), e.getMessage)
    // the opted-in global window still works and is a true global rank
    val ok = Pipeline.build(spark, cfg("\n      global: true"))("w")
    val n = ok.count()
    assert(ok.agg(max($"rn".cast("long"))).head.getLong(0) == n)
  }

  /** The `s` frame of a storage source over `path` (more parameters in
    * `extra`), and the Spark jobs its build ran. */
  private def storageBuild(path: String, extra: String = "")
      : (org.apache.spark.sql.DataFrame, Int) = {
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = org.apache.spark.graft.ListenerProbe.jobs(
        spark.sparkContext) {
      df = Pipeline.build(spark, s"""
        |sources:
        |  - name: s
        |    module: storage
        |    parameters: {path: "$path"$extra}
        |""".stripMargin)("s")
    }
    (df, jobs)
  }
  private def schemaOf(path: String, extra: String = ""): String =
    storageBuild(path, extra)._1.schema.catalogString

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix)

  test("storage source: a second build of an unchanged source reuses " +
      "its inferred schema and runs no job") {
    val path = s"${tmpDir("graft-memo")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(path)
    val (first, inferred) = storageBuild(path)
    assert(inferred > 0, "the first build infers with a job")
    val (second, jobs) = storageBuild(path)
    assert(jobs == 0)
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("storage source: a rewritten file, an added file or an " +
      "inference conf makes the next build infer again") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = tmpDir("graft-memo")
    // one parquet file at a fixed path, rewritten in place
    def writeFile(df: org.apache.spark.sql.DataFrame,
        to: java.nio.file.Path): Unit = {
      val out = s"${tmpDir("graft-memo-w")}/w"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, to, StandardCopyOption.REPLACE_EXISTING)
    }
    val file = dir.resolve("t.parquet")
    writeFile(Seq(1L).toDF("id"), file)
    assert(schemaOf(s"$file") == "struct<id:bigint>")
    writeFile(Seq((1L, "a")).toDF("id", "name"), file)
    assert(schemaOf(s"$file") == "struct<id:bigint,name:string>")
    // json infers over every file, so a new file can add a field
    val json = Files.createDirectory(dir.resolve("json"))
    Files.writeString(json.resolve("a.json"), "{\"id\": 1}\n")
    assert(schemaOf(s"$json", ", format: json") == "struct<id:bigint>")
    Files.writeString(json.resolve("b.json"), "{\"id\": 2, \"n\": \"b\"}\n")
    assert(schemaOf(s"$json", ", format: json") ==
      "struct<id:bigint,n:string>")
    // the session conf is part of what inference reads (parquet
    // written by Spark carries its own schema, which parquet confs
    // such as binaryAsString do not change; csv type inference
    // follows spark.sql.timestampType)
    val csv = Files.createDirectory(dir.resolve("csv"))
    Files.writeString(csv.resolve("a.csv"), "ts\n2020-01-01 00:00:00\n")
    assert(schemaOf(s"$csv", ", format: csv") == "struct<ts:timestamp>")
    assert(graft.ops.ConfScope(spark,
      "spark.sql.timestampType" -> "TIMESTAMP_NTZ")(
        schemaOf(s"$csv", ", format: csv")) == "struct<ts:timestamp_ntz>")
    assert(schemaOf(s"$csv", ", format: csv") == "struct<ts:timestamp>")
  }

  test("storage source: a declared schema skips inference and the " +
      "remembered schema") {
    val path = s"${tmpDir("graft-memo")}/t"
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    val declared = ", schema: {fields: [{name: id, type: int64}]}"
    val (df, jobs) = storageBuild(path, declared)
    assert(jobs == 0 && df.schema.catalogString == "struct<id:bigint>")
    // the declared build left nothing behind: this one infers
    assert(storageBuild(path)._2 > 0)
    assert(schemaOf(path, declared) == "struct<id:bigint>")
  }

  test("storage source: a missing path fails as Spark's reader does") {
    val missing = s"${tmpDir("graft-memo")}/nope"
    val direct = intercept[Exception](
      spark.read.format("parquet").load(missing)).getMessage
    val built = intercept[Exception](storageBuild(missing)).getMessage
    assert(built.contains(direct), built)
  }

  test("storage source: a streaming csv source reads its header and " +
      "infers types like the batch one") {
    val dir = tmpDir("graft-csv")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "id,name\n1,a\n2,b\n")
    val batch = schemaOf(s"$dir", ", format: csv")
    assert(batch == "struct<id:int,name:string>")
    val (stream, _) = storageBuild(s"$dir", ", format: csv, stream: true")
    assert(stream.isStreaming)
    assert(stream.schema.catalogString == batch)
  }
}
