package graft

import org.scalatest.funsuite.AnyFunSuite

/** Batch-only operators must reject streaming inputs LOUDLY at build
  * time with the alternative named — not surface Spark's opaque
  * sink-start analysis errors ("Queries with streaming sources must
  * be executed with writeStream.start()", "Sorting is not
  * supported…"), and never run with silently wrong cross-batch
  * semantics (pack's partition-local sequence ids). Probed modules
  * that genuinely stream (sample fraction mode, chunk, crypto,
  * text analysis, onnx, http) stay unguarded. */
class StreamGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rateSrc = spark.readStream.format("rate").load()
    .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text",
      "value AS src", "value AS dst",
      "CAST(value AS DOUBLE) AS v", "timestamp AS ts",
      "CAST(array(0.1, 0.2) AS array<float>) AS embedding")

  private def run(module: String, params: String) =
    Pipeline.transforms(module)(spark,
      Pipeline.ModuleCfg("g", module, Seq("ev"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("ev" -> rateSrc))

  private def check(module: String, params: String,
      needle: String): Unit = {
    val e = intercept[IllegalArgumentException] { run(module, params) }
    assert(e.getMessage.contains("bounded (batch) input"),
      s"$module: ${e.getMessage}")
    assert(e.getMessage.contains(needle), s"$module: ${e.getMessage}")
  }

  test("corpus-wide operators reject streams with alternatives named") {
    check("tfidf", """{"field": "text", "idField": "doc_id"}""",
      "corpus-wide")
    check("similarity",
      """{"method": "bruteforce", "field": "embedding",
         "idField": "doc_id", "k": 2}""",
      "method: embedding")
    check("graph", """{"analysis": "degrees"}""", "batch stage")
    check("pack", """{"field": "text"}""", "collide")
    check("sample",
      """{"mode": "reservoir", "k": 3, "keyFields": ["text"]}""",
      "fraction mode")
    check("window",
      """{"groupFields": ["src"], "orderFields": ["ts"],
         "fields": [{"name": "rnk", "function": "rank"}]}""",
      "stateful")
  }

  test("sample fraction mode still streams (per-row key filter)") {
    // builds without error — the guard is reservoir-only
    val out = run("sample",
      """{"rate": 0.5, "keyFields": ["doc_id"]}""")
    assert(out("g").isStreaming)
  }

  test("per-run confs: conflicting values fail; a same-value " +
      "re-scope restores") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val dir = java.nio.file.Files.createTempDirectory("graft-runconf")
      .toString
    Seq((1L, 100L, "x"), (2L, 200L, "y")).toDF("id", "secs", "text")
      .selectExpr("id", "timestamp_seconds(secs) AS ts", "text")
      .write.parquet(s"$dir/in")
    // two streaming dedups, each sizing its state with the SAME key
    def config(n1: Int, n2: Int): String = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |${Seq(n1, n2).zipWithIndex.map { case (n, i) => s"""
      |  - name: d$i
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 60}
      |    parameters: {method: exact, field: text,
      |      stateShufflePartitions: $n}""" }.mkString}
      |sinks:
      |  - {name: rc0, module: memory, input: d0,
      |     parameters: {outputMode: append}}
      |  - {name: rc1, module: memory, input: d1,
      |     parameters: {outputMode: append,
      |       checkpointLocation: $dir/ckpt1}}
      |""".stripMargin
    val prior = spark.conf.get(key)
    spark.conf.set(key, "5")
    try {
      val conf = spark.conf.getAll
      // two modules asking for DIFFERENT values cannot both win —
      // queries start after all builds, so the last write would
      // silently apply to every checkpoint
      val e = intercept[IllegalArgumentException](
        Pipeline.execute(spark, config(3, 7)))
      assert(e.getMessage.contains("conflicting"), e.getMessage)
      assert(spark.conf.getAll == conf)
      // a second module asking for the same value (e.g. join + dedup
      // both setting stateShufflePartitions) is a no-op re-scope; the
      // run restores the pre-run value, not an intermediate one
      Pipeline.execute(spark, config(3, 3))
      assert(spark.conf.getAll == conf)
      graft.streaming.StreamRunner.drainAll()
      val offsets = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/ckpt1/offsets/0")))
      assert(offsets.contains(s""""$key":"3""""), offsets)
    } finally {
      graft.streaming.StreamRunner.stopAll()
      spark.conf.set(key, prior)
    }
  }
}
