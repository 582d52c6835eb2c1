package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Regression pins for the round-18 advice findings: persisted-ANN
  * artifact validation (mixed-build widths, IVF increments without a
  * coarse table, corrupt codebooks/centroids), the exact-pane empty
  * firing publishing a schema-bearing file, and the verdicts
  * lexicographic-min probe. */
class Round19FixesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def intVec(seed: Long, dim: Int): Array[Float] = {
    val a = Array.tabulate(dim)(j =>
      (((seed * 31 + j * 17) % 255 + 255) % 255 - 127).toFloat)
    a(0) = 127f
    a
  }

  private def sim(name: String, inputNames: Seq[String],
      params: String, inputs: Map[String, org.apache.spark.sql.DataFrame]) =
    Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg(name, "similarity", inputNames, Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()), inputs)

  private lazy val corpus = (1L to 60L).map(i => (i, intVec(i, 8)))
    .toDF("vec_id", "embedding")
  private lazy val queries = (1001L to 1005L).map(i => (i, intVec(i * 7, 8)))
    .toDF("vec_id", "embedding")

  private def buildIdx(extra: String) = sim("idx", Seq("c"),
    s"""{"action": "index", "field": "embedding", "idField": "vec_id",
        "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5"$extra}""",
    Map("c" -> corpus))

  test("indexInput mixing code widths from two builds fails at plan " +
      "time with the driver-side message (not one-row-probe luck)") {
    val codes4 = buildIdx("")
    val codes8 = sim("idx", Seq("c"),
      """{"action": "index", "field": "embedding", "idField": "vec_id",
          "pqM": 8, "pqCodebookSize": 16, "hashAlgo": "md5"}""",
      Map("c" -> corpus))
    // a mixed dir = union of two builds' code frames; order the
    // 4-byte rows FIRST so the old limit(1) probe would have passed
    val mixed = codes4("idx").unionByName(codes8("idx"))
    val e = intercept[IllegalArgumentException](sim("knn",
      Seq("i", "q", "cb"),
      """{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 4, "indexInput": "i",
          "codebookInput": "cb"}""",
      Map("i" -> mixed, "q" -> queries,
        "cb" -> codes4("idx.codebook")))("knn").collect())
    assert(e.getMessage.contains("mixes code widths"), e.getMessage)
  }

  test("ivf over a prebuilt index with null __cell rows (an " +
      "increment encoded without centroidsInput) fails loudly " +
      "instead of silently never reaching those vectors") {
    val ivfBuilt = buildIdx(""", "centroids": 8""")
    // simulate the pre-fix misuse artifact: half the rows lose
    // their cell, as an increment without centroidsInput would
    val broken = ivfBuilt("idx").withColumn("__cell",
      when($"vec_id" % 2 === 0, $"__cell"))
    val e = intercept[IllegalArgumentException](sim("knn",
      Seq("i", "q", "cb", "ct"),
      """{"method": "ivf", "field": "embedding", "idField": "vec_id",
          "k": 5, "nProbe": 3, "indexInput": "i",
          "codebookInput": "cb", "centroidsInput": "ct"}""",
      Map("i" -> broken, "q" -> queries,
        "cb" -> ivfBuilt("idx.codebook"),
        "ct" -> ivfBuilt("idx.centroids")))("knn").collect())
    assert(e.getMessage.contains("null __cell"), e.getMessage)
    assert(e.getMessage.contains("centroidsInput"), e.getMessage)
    // lsh over the same artifact ignores __cell — still queryable
    val viaLsh = sim("knn", Seq("i", "q", "cb"),
      """{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 4, "indexInput": "i",
          "codebookInput": "cb"}""",
      Map("i" -> broken, "q" -> queries,
        "cb" -> ivfBuilt("idx.codebook")))("knn")
    assert(viaLsh.count() > 0)
  }

  test("incremental encode against an IVF-PQ build's codebook " +
      "without centroidsInput is rejected at build time (the " +
      "__ivf layout marker); flat-build codebooks still increment") {
    val ivfBuilt = buildIdx(""", "centroids": 8""")
    assert(ivfBuilt("idx.codebook").columns.contains("__ivf"))
    val e = intercept[IllegalArgumentException](sim("idx2",
      Seq("c", "cb"),
      """{"action": "index", "field": "embedding",
          "idField": "vec_id", "codebookInput": "cb"}""",
      Map("c" -> corpus.filter($"vec_id" > 30),
        "cb" -> ivfBuilt("idx.codebook"))))
    assert(e.getMessage.contains("IVF-PQ build"), e.getMessage)
    // with centroidsInput the increment works and carries __cell
    val inc = sim("idx2", Seq("c", "cb", "ct"),
      """{"action": "index", "field": "embedding",
          "idField": "vec_id", "codebookInput": "cb",
          "centroidsInput": "ct"}""",
      Map("c" -> corpus.filter($"vec_id" > 30),
        "cb" -> ivfBuilt("idx.codebook"),
        "ct" -> ivfBuilt("idx.centroids")))("idx2")
    assert(inc.columns.contains("__cell"))
    assert(inc.filter($"__cell".isNull).count() == 0)
    // a flat (non-IVF) codebook increments without a coarse table
    val flat = buildIdx("")
    val inc2 = sim("idx2", Seq("c", "cb"),
      """{"action": "index", "field": "embedding",
          "idField": "vec_id", "codebookInput": "cb"}""",
      Map("c" -> corpus.filter($"vec_id" > 30),
        "cb" -> flat("idx.codebook")))("idx2")
    assert(inc2.count() == 30)
  }

  test("validateIndex: false skips the plan-time scan (hot serving " +
      "path) — the mixed-width artifact then fails per-row in the " +
      "executor backstop instead") {
    val codes4 = buildIdx("")
    val codes8 = sim("idx", Seq("c"),
      """{"action": "index", "field": "embedding", "idField": "vec_id",
          "pqM": 8, "pqCodebookSize": 16, "hashAlgo": "md5"}""",
      Map("c" -> corpus))
    val mixed = codes4("idx").unionByName(codes8("idx"))
    def query(validate: Boolean) = sim("knn", Seq("i", "q", "cb"),
      s"""{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 4, "indexInput": "i",
          "codebookInput": "cb", "validateIndex": $validate}""",
      Map("i" -> mixed, "q" -> queries,
        "cb" -> codes4("idx.codebook")))("knn").collect()
    // with validation: friendly driver-side failure at plan time
    val e1 = intercept[IllegalArgumentException](query(true))
    assert(e1.getMessage.contains("mixes code widths"), e1.getMessage)
    // without: the reconstruct backstop still refuses to produce
    // silently-wrong neighbors (loud, but executor-side)
    val e2 = intercept[Exception](query(false))
    assert(e2.getMessage.contains("different index builds") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("different index builds")),
      e2.toString)
    // and a HEALTHY index queried with validateIndex: false works
    val ok = sim("knn", Seq("i", "q", "cb"),
      """{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 4, "indexInput": "i",
          "codebookInput": "cb", "validateIndex": false}""",
      Map("i" -> codes4("idx"), "q" -> queries,
        "cb" -> codes4("idx.codebook")))("knn")
    assert(ok.count() > 0)
  }

  test("corrupt codebooks fail with named validation errors, not " +
      "NPEs or silent reconstruction corruption") {
    val built = buildIdx("")
    val cb = built("idx.codebook")
    def query(cbDf: org.apache.spark.sql.DataFrame) = sim("knn",
      Seq("i", "q", "cb"),
      """{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 4, "indexInput": "i",
          "codebookInput": "cb"}""",
      Map("i" -> built("idx"), "q" -> queries, "cb" -> cbDf))("knn")
        .collect()
    val e1 = intercept[IllegalArgumentException](query(
      cb.withColumn("__centroid",
        when($"__ci" === 3, lit(null)).otherwise($"__centroid"))))
    assert(e1.getMessage.contains("null __centroid"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](query(
      cb.withColumn("__centroid",
        when($"__ci" === 3, slice($"__centroid", 1, 1))
          .otherwise($"__centroid"))))
    assert(e2.getMessage.contains("mixes centroid widths"),
      e2.getMessage)
  }

  test("corrupt coarse-centroid tables fail with named errors") {
    val built = buildIdx(""", "centroids": 8""")
    def query(ct: org.apache.spark.sql.DataFrame) = sim("knn",
      Seq("i", "q", "cb", "ct"),
      """{"method": "ivf", "field": "embedding", "idField": "vec_id",
          "k": 5, "nProbe": 3, "indexInput": "i",
          "codebookInput": "cb", "centroidsInput": "ct"}""",
      Map("i" -> built("idx"), "q" -> queries,
        "cb" -> built("idx.codebook"),
        "ct" -> ct))("knn").collect()
    val cents = built("idx.centroids")
    val e1 = intercept[IllegalArgumentException](query(
      cents.withColumn("__centroid",
        when($"__ci" === 2, lit(null)).otherwise($"__centroid"))))
    assert(e1.getMessage.contains("null __centroid"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](query(
      cents.withColumn("__centroid",
        when($"__ci" === 2, slice($"__centroid", 1, 2))
          .otherwise($"__centroid"))))
    assert(e2.getMessage.contains("mixes"), e2.getMessage)
  }

  test("action recall over a PREBUILT index + corpusInput raw " +
      "corpus equals the direct quantized recall; without " +
      "corpusInput the rejection names the fix") {
    val built = buildIdx("")
    def recall(names: Seq[String], extra: String,
        ins: Map[String, org.apache.spark.sql.DataFrame]) =
      sim("rec", names,
        s"""{"action": "recall", "method": "lsh",
            "field": "embedding", "idField": "vec_id", "k": 5,
            "planes": 4, "tables": 2$extra}""", ins)("rec")
        .select($"query_id", $"hits", $"exact_n")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val direct = recall(Seq("c", "q"),
      """, "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5"""",
      Map("c" -> corpus, "q" -> queries))
    val viaIndex = recall(Seq("i", "q", "cb", "raw"),
      """, "indexInput": "i", "codebookInput": "cb",
          "corpusInput": "raw", "hashAlgo": "md5"""",
      Map("i" -> built("idx"), "q" -> queries,
        "cb" -> built("idx.codebook"), "raw" -> corpus))
    assert(viaIndex == direct,
      s"stored-artifact recall must equal the direct run:\n" +
        s"got $viaIndex\nexp $direct")
    val e = intercept[IllegalArgumentException](recall(
      Seq("i", "q", "cb"),
      """, "indexInput": "i", "codebookInput": "cb"""",
      Map("i" -> built("idx"), "q" -> queries,
        "cb" -> built("idx.codebook"))))
    assert(e.getMessage.contains("corpusInput"), e.getMessage)
    // full-corpus eval: corpusInput names the SAME input as the
    // query set (every corpus vector is a query) — the ground-truth
    // build must keep that input as its query side (a dropped query
    // input would silently degrade to corpus.limit(10) and zero
    // most queries' recall)
    val fullDirect = recall(Seq("c", "q"),
      """, "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5"""",
      Map("c" -> corpus, "q" -> corpus))
    val fullViaIndex = recall(Seq("i", "raw", "cb"),
      """, "indexInput": "i", "codebookInput": "cb",
          "corpusInput": "raw", "hashAlgo": "md5"""",
      Map("i" -> built("idx"), "raw" -> corpus,
        "cb" -> built("idx.codebook")))
    assert(fullViaIndex.size == 60 && fullViaIndex == fullDirect,
      s"got $fullViaIndex\nexp $fullDirect")
  }

  test("streaming mixture guards: epoch replication (w > 1) and " +
      "mixed stream/batch inputs are rejected with the fix named; " +
      "single-pass streaming legs build") {
    val rate = spark.readStream.format("rate").load()
    val batch = Seq((1L, "x")).toDF("value", "s")
    def mix(ins: Map[String, org.apache.spark.sql.DataFrame],
        weights: String) =
      Pipeline.transforms("mixture")(spark,
        Pipeline.ModuleCfg("mix", "mixture", ins.keys.toSeq.sorted, Nil,
          graft.config.Json.parse(
            s"""{"weights": $weights, "keyFields": ["value"]}"""),
          graft.config.Json.obj()), ins)("mix")
    val e1 = intercept[IllegalArgumentException](
      mix(Map("a" -> rate), """{"a": 2.5}"""))
    assert(e1.getMessage.contains("bounded corpus"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      mix(Map("a" -> rate, "b" -> batch), """{"a": 1.0, "b": 1.0}"""))
    assert(e2.getMessage.contains("streaming and batch"), e2.getMessage)
    val ok = mix(Map("a" -> rate, "b" -> rate.selectExpr("*")),
      """{"a": 0.5, "b": 1.0}""")
    assert(ok.isStreaming)
  }

  test("verdicts all-numeric-string probe: fires on numeric ids, " +
      "not on genuinely-string ids, bounded") {
    import graft.operators.DedupTransform
    val numeric = Seq("9", "10", "123").toDF("doc_id")
    assert(DedupTransform.allNumericProbe(numeric, "doc_id"))
    val strings = Seq("9", "doc-10", "123").toDF("doc_id")
    assert(!DedupTransform.allNumericProbe(strings, "doc_id"))
    val empty = Seq.empty[String].toDF("doc_id")
    assert(!DedupTransform.allNumericProbe(empty, "doc_id"))
  }

  test("an exact-pane firing whose pane frame is EMPTY (too-late " +
      "straggler for an already-fired window) still publishes a " +
      "schema-bearing file — the sink never fails schema inference") {
    import graft.streaming.StreamRunner
    val dir = java.nio.file.Files
      .createTempDirectory("graft-emptypane").toString
    val out = s"$dir/out"
    def stage(file: String, rows: Seq[(Long, Long, Double)]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("id", "secs", "value")
        .select($"id", timestamp_seconds($"secs").as("ts"), $"value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath)
    }
    // b1: [0,6h) with one row, plus a row at 26h that pushes the
    // frontier to 30h — [0,6h) closes (onTime) with lateness 1h.
    // The aggregation keeps only windows with n < 2, so a firing
    // whose windows all hold two or more elements has an EMPTY pane
    // frame.
    stage("b1", Seq((1L, 3600L, 1.0), (2L, 93600L, 1.0)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, format: parquet, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      mode: accumulating
      |      exactPanes: true
      |      timestampField: ts
      |      window: {type: fixed, unit: hour, size: 6, allowedLateness: 1}
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 100,
      |           pastFirstElementDelayUnit: millisecond}
      |        lateFiringTrigger:
      |          {type: afterProcessingTime, pastFirstElementDelay: 100,
      |           pastFirstElementDelayUnit: millisecond}
      |    parameters:
      |      groupFields: []
      |      filter: [{key: n, op: "<", value: 2}]
      |      aggregations:
      |        - input: ev
      |          fields:
      |            - {name: n, op: count}
      |sinks:
      |  - name: epanes
      |    module: storage
      |    input: agg
      |    parameters: {output: "$out", format: parquet,
      |                 checkpointLocation: "$dir/ckpt"}
      |""".stripMargin)
    StreamRunner.drainAll()
    val afterB1 = spark.read.parquet(out).count()
    assert(afterB1 > 0, "b1 must fire panes")
    // b2: a straggler at 02:00 — [0,6h) already FIRED and is past
    // end+lateness (7h < 30h frontier), so it fires nothing — plus
    // two elements in the open [24h,30h), whose early pane (n = 3)
    // the filter drops → an empty firing
    stage("b2", Seq((3L, 7200L, 1.0), (5L, 97200L, 1.0),
      (6L, 100800L, 1.0)))
    StreamRunner.drainAll()
    // WRITE-ONCE contract (r19 verdict): the empty firing publishes
    // NOTHING when the sink already holds a schema-bearing parquet
    // file — the per-firing marker was one write job + commit per
    // empty pane, refunding part of the merged-write savings
    val files = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.startsWith("b0-")),
      s"empty firing must not re-publish a marker: ${files.mkString(", ")}")
    assert(spark.read.parquet(out).count() == afterB1)
    // ...but a sink WITHOUT a schema file still gets its marker: drop
    // the published parts (the all-empty-firings shape) and drive
    // another empty firing — two elements in [48h,54h) that also
    // close [24h,30h) (n = 3) — it must publish a schema-bearing
    // empty file so the sink stays readable
    new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    stage("b3", Seq((4L, 176400L, 1.0), (7L, 180000L, 1.0)))
    StreamRunner.drainAll()
    StreamRunner.stopAll()
    val files2 = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files2.nonEmpty,
      "an empty firing into a schema-less sink must publish a marker")
    assert(spark.read.parquet(out).count() == 0)
  }
}
