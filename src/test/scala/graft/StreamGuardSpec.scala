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
}
