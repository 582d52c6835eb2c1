package graft

import graft.config.Json._
import org.apache.spark.sql.functions.timestamp_seconds
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Server mode (SURVEY §3.3 — the reference's MPipelineServer):
  * probe, schema service, pipeline launch over loopback HTTP, and
  * concurrent requests that each run on their own session clone. */
class ServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val srv = {
    val s = Server.start(spark, 0)
    sys.addShutdownHook(s.stop(0))
    s
  }
  private def base = s"http://127.0.0.1:${srv.getAddress.getPort}"

  private def http(method: String, path: String, body: String = "")
      : (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(base + path))
    val req = (if (method == "GET") b.GET()
      else b.POST(java.net.http.HttpRequest.BodyPublishers
        .ofString(body))).build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private val cfg = """
sources:
  - name: n
    module: storage
    parameters: {path: "/root/testdata/sf0.001/nation.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [n]
    parameters:
      groupFields: [n_regionkey]
      aggregations:
        - input: n
          fields:
            - {name: cnt, op: count}
"""

  test("probe answers ok") {
    assert(http("GET", "/probe") == ((200, "ok")))
  }

  test("schema service returns every collection's schema without " +
      "executing sinks") {
    val (code, body) = http("POST", "/schema", cfg)
    assert(code == 200, body)
    val j = graft.config.Json.parse(body)
    assert(j("n").isDefined && j("agg").isDefined)
    val aggFields = j("agg").get("fields").get.elems
      .map(_.str("name").get).toSet
    assert(aggFields == Set("n_regionkey", "cnt"))
  }

  test("run executes a pipeline and reports counts on demand") {
    val (code, body) = http("POST", "/run?counts=true", cfg)
    assert(code == 200, body)
    val j = graft.config.Json.parse(body)
    assert(j("collections").get.elems.map(_.asText).toSet ==
      Set("n", "agg"))
    assert(j("counts").get.long("n").contains(25L))
    assert(j("counts").get.long("agg").contains(5L))
  }

  /** 25 nations, 5 per region. */
  private lazy val nations = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-srvsql")
    (0 until 25).map(i => (i, i % 5)).toDF("n_nationkey", "n_regionkey")
      .write.parquet(s"$dir/nation")
    s"$dir/nation"
  }

  /** srv_n → srv_sel (regions <= k) → out: every request registers
    * the temp views `srv_n` and `srv_sel`, the latter over its own
    * filter. */
  private def sqlCfg(k: Int) = s"""
sources:
  - name: srv_n
    module: storage
    parameters: {path: "$nations"}
transforms:
  - name: srv_sel
    module: sql
    inputs: [srv_n]
    parameters: {sql: "SELECT * FROM srv_n WHERE n_regionkey <= $k"}
  - name: out
    module: sql
    inputs: [srv_sel]
    parameters: {sql: "SELECT n_nationkey FROM srv_sel"}
"""

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  test("concurrent runs keep their same-named views apart") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 12).map { i =>
        val k = i % 5
        pool.submit(() => (k, http("POST", "/run?counts=true", sqlCfg(k))))
      }
      futures.map(_.get()).foreach { case (k, (code, body)) =>
        assert(code == 200, body)
        val counts = graft.config.Json.parse(body)("counts").get
        assert(counts.long("srv_sel").contains(5L * (k + 1)), body)
        assert(counts.long("out").contains(5L * (k + 1)), body)
      }
    } finally pool.shutdown()
  }

  test("a run leaves the server's session conf and temp views as " +
      "it found them") {
    val views = tempViews
    val conf = spark.conf.getAll
    val (code, body) = http("POST", "/run?counts=true", sqlCfg(2))
    assert(code == 200, body)
    assert(tempViews == views)
    // nor did any earlier request leave its views there
    assert(!views.contains("srv_n") && !views.contains("srv_sel"), views)
    assert(spark.conf.getAll == conf)
  }

  test("requests inherit the engine's SQL functions instead of " +
      "registering them again") {
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(
      "MDT_GREATEST_INT64")
    srv // started: the server's session holds the functions
    val root = spark.sessionState.functionRegistry.lookupFunctionBuilder(id)
    assert(root.isDefined)
    val clone = org.apache.spark.sql.graft.SessionBridge.cloneSession(spark)
    graft.operators.SqlTransform.registerMdtUdfs(clone)
    // the very same builder: nothing was replaced
    assert(clone.sessionState.functionRegistry.lookupFunctionBuilder(id)
      .exists(_ eq root.get))
  }

  test("a stopped server leaves no handler threads behind") {
    def alive = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName == "graft-server")
    (1 to 3).foreach { _ =>
      val s = Server.start(spark, 0)
      val c = java.net.URI.create(
        s"http://127.0.0.1:${s.getAddress.getPort}/probe").toURL
        .openConnection()
      assert(new String(c.getInputStream.readAllBytes()) == "ok")
      s.stop(0)
    }
    val deadline = System.nanoTime() + 15L * 1000000000L
    while (alive > 0 && System.nanoTime() < deadline) Thread.sleep(100)
    assert(alive == 0)
  }

  test("scoped confs restore exactly: a key nobody set is unset " +
      "again after a streaming run and a pagerank run") {
    import spark.implicits._
    val conf = spark.conf.getAll
    graft.streaming.StreamRunner.scopeConf(spark,
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
    val dir = java.nio.file.Files.createTempDirectory("graft-srvconf")
    Seq((1L, 100L, "the quick brown fox jumps over the lazy dog"),
      (2L, 200L, "the quick brown fox jumps over the lazy dog!"))
      .toDF("doc_id", "secs", "text")
      .select($"doc_id", timestamp_seconds($"secs").as("ts"), $"text")
      .write.parquet(s"$dir/in")
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: d
      |    module: storage
      |    parameters: {path: "$dir/in", stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [d]
      |    strategy: {timestampField: ts, allowedLateness: 36000}
      |    parameters: {method: ngram, field: text, idField: doc_id,
      |      ngramSize: 5, threshold: 0.5, stateShufflePartitions: 2}
      |sinks:
      |  - name: srvconf
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    graft.streaming.StreamRunner.drainAll()
    graft.streaming.StreamRunner.stopAll()
    assert(spark.conf.getAll == conf)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    Pipeline.transforms("graph")(spark,
      Pipeline.ModuleCfg("g", "graph", Seq("e"), Nil,
        graft.config.Json.parse("""{"method": "pagerank"}"""),
        graft.config.Json.obj()), Map("e" -> edges))("g").collect()
    assert(spark.conf.getAll == conf)
  }

  test("a broken config returns 400 with the error, not a hang") {
    val (code, body) = http("POST", "/run", "sources:\n  - name: x\n" +
      "    module: nosuch\n    parameters: {}\n")
    assert(code == 400, body)
    assert(body.contains("error"))
  }
}
