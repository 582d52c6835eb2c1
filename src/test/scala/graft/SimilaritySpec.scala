package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** similarity transform — the oracled gates are q23/q24/q33; these pin
  * the `quantized: true` int8-index mode: on a domain where
  * quantization is lossless (integer components, max|v| = 127 →
  * scale = 1) the quantized index must reproduce the float index's
  * top-k EXACTLY for every method, and the int8 column (not the float
  * array) must be what crosses the candidate re-attach join. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** integer-component vectors (range [-127, 127], one component
    * pinned to 127 so scale = 127/127 = 1.0): quantize is then the
    * identity and any rank divergence is a plumbing bug, not
    * quantization error. */
  private def intVec(seed: Long, dim: Int): Array[Float] = {
    val a = Array.tabulate(dim)(j =>
      (((seed * 31 + j * 17) % 255 + 255) % 255 - 127).toFloat)
    a(0) = 127f
    a
  }

  private def knn(method: String, quantized: Boolean) = {
    val dim = 8
    val corpus = (1L to 60L).map(i => (i, intVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1005L).map(i => (i, intVec(i * 7, dim)))
      .toDF("vec_id", "embedding")
    val params = graft.config.Json.parse(
      s"""{"method": "$method", "field": "embedding",
          "idField": "vec_id", "k": 5, "planes": 4, "tables": 4,
          "quantized": $quantized}""")
    Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("knn", "similarity", Seq("c", "q"), Nil,
        params, graft.config.Json.obj()),
      Map("c" -> corpus, "q" -> queries))("knn")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3)).toSeq

  for (m <- Seq("bruteforce", "lsh", "ivf"))
    test(s"quantized $m index reproduces the float top-k exactly on " +
        "a lossless domain") {
      assert(ranks(knn(m, quantized = true)) ==
        ranks(knn(m, quantized = false)))
    }

  test("quantized lsh carries the int8 index (not float arrays) " +
      "through the candidate re-attach") {
    val plan = knn("lsh", quantized = true)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__c_qv"),
      "int8 index column missing from the optimized plan:\n" + plan)
  }

  private def selfKnn(params: String, n: Long = 60L) = {
    val corpus = (1L to n).map(i => (i, intVec(i, 8)))
      .toDF("vec_id", "embedding")
    Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("knn", "similarity", Seq("c"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("c" -> corpus))("knn")
  }

  test("selfJoin: every vector gets neighbors, never itself, " +
      "ranks within k — float and quantized agree on the lossless " +
      "domain") {
    val params = """{"method": "lsh", "selfJoin": true,
      "field": "embedding", "idField": "vec_id", "k": 3,
      "planes": 2, "tables": 4, "quantized": %s}"""
    val out = ranks(selfKnn(params.format("false")))
    // 2-plane 4-table buckets on 60 vectors: everyone finds someone
    assert(out.map(_._1).distinct.size == 60)
    assert(out.forall { case (q, n, r) => q != n && r >= 1 && r <= 3 })
    assert(out == ranks(selfKnn(params.format("true"))))
  }

  test("selfJoin guards: bruteforce rejected, second input rejected") {
    val e1 = intercept[IllegalArgumentException](selfKnn(
      """{"method": "bruteforce", "selfJoin": true,
         "field": "embedding", "idField": "vec_id"}"""))
    assert(e1.getMessage.contains("bucketed method"))
    val corpus = (1L to 10L).map(i => (i, intVec(i, 8)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException](
      Pipeline.transforms("similarity")(spark,
        Pipeline.ModuleCfg("knn", "similarity", Seq("c", "q"), Nil,
          graft.config.Json.parse(
            """{"method": "lsh", "selfJoin": true,
               "field": "embedding", "idField": "vec_id"}"""),
          graft.config.Json.obj()),
        Map("c" -> corpus, "q" -> corpus))("knn"))
    assert(e2.getMessage.contains("ONE input"))
  }

  test("pq index: lossless when the codebook spans the corpus " +
      "(pq top-k == float top-k), guards on exclusivity and dim") {
    val dim = 8
    // 16 distinct corpus vectors + ks=16 md5-seeded codebook → the
    // codebook contains every corpus vector, so each subvector
    // encodes at distance 0 and reconstruction is exact (a tie may
    // pick another centroid with the IDENTICAL subvector — still
    // lossless); any rank divergence is a plumbing bug
    val corpus = (1L to 16L).map(i => (i, intVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1005L).map(i => (i, intVec(i * 7, dim)))
      .toDF("vec_id", "embedding")
    def run(extra: String) = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("knn", "similarity", Seq("c", "q"), Nil,
        graft.config.Json.parse(
          s"""{"method": "bruteforce", "field": "embedding",
              "idField": "vec_id", "k": 5$extra}"""),
        graft.config.Json.obj()),
      Map("c" -> corpus, "q" -> queries))("knn")
    val float = ranks(run(""))
    val pq = ranks(run(
      """, "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5""""))
    assert(pq == float, "lossless pq must reproduce the float top-k")
    val e1 = intercept[IllegalArgumentException](run(
      """, "pqM": 4, "quantized": true"""))
    assert(e1.getMessage.contains("exclusive"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](run(""", "pqM": 3"""))
    assert(e2.getMessage.contains("divide"), e2.getMessage)
  }

  test("persistable pq index: action index + storage roundtrip + " +
      "indexInput query equals the direct pq run; guards fire") {
    val dim = 8
    val corpus = (1L to 60L).map(i => (i, intVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1005L).map(i => (i, intVec(i * 7, dim)))
      .toDF("vec_id", "embedding")
    val built = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("idx", "similarity", Seq("c"), Nil,
        graft.config.Json.parse(
          """{"action": "index", "field": "embedding",
              "idField": "vec_id", "pqM": 4, "pqCodebookSize": 16,
              "hashAlgo": "md5"}"""),
        graft.config.Json.obj()),
      Map("c" -> corpus))
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx")
      .toString
    built("idx").write.parquet(s"$dir/codes")
    built("idx.codebook").write.parquet(s"$dir/cb")
    // codes are m bytes per vector; codebook is m*ks rows
    assert(built("idx").schema("__pq").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(built("idx.codebook").count() == 4 * 16)
    def query(inputs: Map[String, org.apache.spark.sql.DataFrame],
        names: Seq[String], extra: String) =
      Pipeline.transforms("similarity")(spark,
        Pipeline.ModuleCfg("knn", "similarity", names, Nil,
          graft.config.Json.parse(
            s"""{"method": "lsh", "field": "embedding",
                "idField": "vec_id", "k": 5, "planes": 4,
                "tables": 4$extra}"""),
          graft.config.Json.obj()), inputs)("knn")
    val direct = ranks(query(
      Map("c" -> corpus, "q" -> queries), Seq("c", "q"),
      """, "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5""""))
    val viaIndex = ranks(query(
      Map("i" -> spark.read.parquet(s"$dir/codes"),
        "q" -> queries,
        "cb" -> spark.read.parquet(s"$dir/cb")),
      Seq("i", "q", "cb"),
      """, "indexInput": "i", "codebookInput": "cb""""))
    assert(viaIndex == direct,
      "prebuilt-index query must equal the direct pq run")
    // guards: ivf needs the raw corpus; codebookInput mandatory
    val e1 = intercept[IllegalArgumentException](query(
      Map("i" -> spark.read.parquet(s"$dir/codes"), "q" -> queries,
        "cb" -> spark.read.parquet(s"$dir/cb")),
      Seq("i", "q", "cb"),
      """, "indexInput": "i", "codebookInput": "cb",
          "method": "ivf""""))
    assert(e1.getMessage.contains("raw corpus"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](query(
      Map("i" -> spark.read.parquet(s"$dir/codes"), "q" -> queries),
      Seq("i", "q"), """, "indexInput": "i""""))
    assert(e2.getMessage.contains("codebookInput"), e2.getMessage)
    // IVF-PQ layout: centroids at build time store __cell + a
    // .centroids output; the prebuilt ivf query (probe cells, score
    // reconstructions) equals the direct ivf+pq run
    val builtIvf = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("idx", "similarity", Seq("c"), Nil,
        graft.config.Json.parse(
          """{"action": "index", "field": "embedding",
              "idField": "vec_id", "pqM": 4, "pqCodebookSize": 16,
              "centroids": 8, "hashAlgo": "md5"}"""),
        graft.config.Json.obj()),
      Map("c" -> corpus))
    builtIvf("idx").write.parquet(s"$dir/codes2")
    builtIvf("idx.centroids").write.parquet(s"$dir/cents")
    builtIvf("idx.codebook").write.parquet(s"$dir/cb2")
    assert(builtIvf("idx").columns.contains("__cell"))
    val directIvf = ranks(query(
      Map("c" -> corpus, "q" -> queries), Seq("c", "q"),
      """, "pqM": 4, "pqCodebookSize": 16, "hashAlgo": "md5",
          "method": "ivf", "centroids": 8, "nProbe": 3"""))
    val viaIvf = ranks(query(
      Map("i" -> spark.read.parquet(s"$dir/codes2"),
        "q" -> queries,
        "cb" -> spark.read.parquet(s"$dir/cb2"),
        "ct" -> spark.read.parquet(s"$dir/cents")),
      Seq("i", "q", "cb", "ct"),
      """, "indexInput": "i", "codebookInput": "cb",
          "centroidsInput": "ct", "method": "ivf", "nProbe": 3"""))
    assert(viaIvf == directIvf,
      "prebuilt IVF-PQ query must equal the direct ivf+pq run")
    // ivf against a cell-less index names the fix
    val e3 = intercept[IllegalArgumentException](query(
      Map("i" -> spark.read.parquet(s"$dir/codes"), "q" -> queries,
        "cb" -> spark.read.parquet(s"$dir/cb"),
        "ct" -> spark.read.parquet(s"$dir/cents")),
      Seq("i", "q", "cb", "ct"),
      """, "indexInput": "i", "codebookInput": "cb",
          "centroidsInput": "ct", "method": "ivf""""))
    assert(e3.getMessage.contains("__cell"), e3.getMessage)
    // incremental encode: half the corpus against the persisted
    // codebook yields exactly the full index's rows for those ids
    val half = corpus.filter($"vec_id" % 2 === 0)
    val inc = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("idx", "similarity", Seq("c", "cb"), Nil,
        graft.config.Json.parse(
          """{"action": "index", "field": "embedding",
              "idField": "vec_id", "codebookInput": "cb"}"""),
        graft.config.Json.obj()),
      Map("c" -> half,
        "cb" -> spark.read.parquet(s"$dir/cb")))("idx")
    val full = built("idx").filter($"vec_id" % 2 === 0)
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "incremental encode must equal the full build's rows")
    // mismatched artifacts (codes from one build, codebook from
    // another) fail at config time, not with silent wrong neighbors
    val built8 = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("idx", "similarity", Seq("c"), Nil,
        graft.config.Json.parse(
          """{"action": "index", "field": "embedding",
              "idField": "vec_id", "pqM": 8, "pqCodebookSize": 16,
              "hashAlgo": "md5"}"""),
        graft.config.Json.obj()),
      Map("c" -> corpus))
    built8("idx").write.parquet(s"$dir/codes8")
    val e5 = intercept[IllegalArgumentException](query(
      Map("i" -> spark.read.parquet(s"$dir/codes8"), "q" -> queries,
        "cb" -> spark.read.parquet(s"$dir/cb")),
      Seq("i", "q", "cb"),
      """, "indexInput": "i", "codebookInput": "cb""""))
    assert(e5.getMessage.contains("different builds"), e5.getMessage)
    // codebook fit on a stream is rejected with the incremental
    // alternative named; encode-against-codebook streams fine (q191)
    val e4 = intercept[IllegalArgumentException](
      Pipeline.transforms("similarity")(spark,
        Pipeline.ModuleCfg("idx", "similarity", Seq("c"), Nil,
          graft.config.Json.parse(
            """{"action": "index", "field": "embedding",
                "idField": "vec_id", "pqM": 4}"""),
          graft.config.Json.obj()),
        Map("c" -> spark.readStream.format("rate").load())))
    assert(e4.getMessage.contains("codebookInput"), e4.getMessage)
  }

  test("action recall: per-query recall@k equals the hand-joined " +
      "approx-vs-bruteforce intersection; guards fire") {
    val corpus = (1L to 60L).map(i => (i, intVec(i, 8)))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1005L).map(i => (i, intVec(i * 7, 8)))
      .toDF("vec_id", "embedding")
    def run(params: String) = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("rec", "similarity", Seq("c", "q"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("c" -> corpus, "q" -> queries))("rec")
    val rec = run("""{"action": "recall", "method": "lsh",
        "field": "embedding", "idField": "vec_id", "k": 5,
        "planes": 4, "tables": 2}""")
      .select($"query_id", $"hits", $"exact_n", $"recall")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // reference: intersect the two module outputs directly
    val approx = ranks(selfKnnLike(corpus, queries,
      """{"method": "lsh", "field": "embedding", "idField": "vec_id",
          "k": 5, "planes": 4, "tables": 2}"""))
      .map(t => (t._1, t._2)).toSet
    val exact = ranks(selfKnnLike(corpus, queries,
      """{"method": "bruteforce", "field": "embedding",
          "idField": "vec_id", "k": 5}"""))
      .map(t => (t._1, t._2))
    val refDen = exact.groupBy(_._1).view.mapValues(_.size).toMap
    val refHit = exact.filter(approx.contains)
      .groupBy(_._1).view.mapValues(_.size).toMap
    val ref = refDen.keys.toSeq.sorted.map { q =>
      val h = refHit.getOrElse(q, 0)
      (q, h.toLong, refDen(q).toLong, h.toDouble / refDen(q))
    }
    assert(rec == ref, s"got $rec\nref $ref")
    assert(rec.map(_._4).forall(r => r >= 0.0 && r <= 1.0))
    // bruteforce-vs-bruteforce is meaningless; prebuilt index has no
    // float ground truth
    val e1 = intercept[IllegalArgumentException](run(
      """{"action": "recall", "method": "bruteforce",
          "field": "embedding", "idField": "vec_id", "k": 5}"""))
    assert(e1.getMessage.contains("APPROXIMATE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](run(
      """{"action": "recall", "method": "lsh", "field": "embedding",
          "idField": "vec_id", "k": 5, "indexInput": "c"}"""))
    assert(e2.getMessage.contains("raw corpus"), e2.getMessage)
  }

  private def selfKnnLike(c: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, params: String) =
    Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("knn", "similarity", Seq("c", "q"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("c" -> c, "q" -> q))("knn")

  test("streaming queries against the static corpus equal the batch " +
      "run; bruteforce rejects streaming queries actionably") {
    val dim = 8
    // corpus includes a ZERO vector (cosine → 0/0 = NaN, ranked
    // "largest" by TopKAgg's contract) and an exact DUPLICATE pair
    // (tied scores → ascending-id tiebreak), so the stream ≡ batch
    // assertion covers the ordering's edge cases, not just the
    // generic path
    val corpus = ((1L to 60L).map(i => (i, intVec(i, dim))) ++
      Seq((61L, Array.fill(dim)(0f)), (62L, intVec(5, dim))))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1006L).map(i => (i, intVec(i * 7, dim)))
    val dir = java.nio.file.Files.createTempDirectory("graft-sknn")
      .toString
    val corpusDir = s"$dir/corpus"
    corpus.write.parquet(corpusDir)
    def stage(file: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath)
    }
    stage("b1", queries.take(3))
    def simYaml(method: String) = s"""
      |sources:
      |  - name: q
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |  - name: c
      |    module: storage
      |    parameters: {path: $corpusDir}
      |transforms:
      |  - name: knn
      |    module: similarity
      |    inputs: [c, q]
      |    parameters: {method: $method, field: embedding, idField: vec_id,
      |                 k: 5, planes: 4, tables: 4}
      |sinks:
      |  - name: sknn
      |    module: memory
      |    input: knn
      |    parameters: {outputMode: append}
      |""".stripMargin
    Pipeline.execute(spark, simYaml("lsh"))
    graft.streaming.StreamRunner.drainAll()
    stage("b2", queries.drop(3)) // second batch: cross-batch queries
    graft.streaming.StreamRunner.drainAll()
    graft.streaming.StreamRunner.stopAll()
    // NaN-safe canon: the zero vector's cosine is NaN on BOTH paths
    // (ranked first per TopKAgg's NaN-largest contract), and
    // NaN != NaN would fail set equality on the agreeing row
    def canon(rows: Array[(Long, Long, Double, Int)]) =
      rows.map(r => (r._1, r._2,
        java.lang.Double.doubleToLongBits(r._3), r._4)).toSet
    val streamed = canon(spark.sql(
      "SELECT query_id, neighbor_id, score, rank FROM sknn")
      .as[(Long, Long, Double, Int)].collect())
    // batch reference: same corpus, all six queries at once
    val batch = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("knn", "similarity", Seq("c", "q"), Nil,
        graft.config.Json.parse(
          """{"method": "lsh", "field": "embedding",
              "idField": "vec_id", "k": 5, "planes": 4,
              "tables": 4}"""),
        graft.config.Json.obj()),
      Map("c" -> spark.read.parquet(corpusDir),
        "q" -> queries.toDF("vec_id", "embedding")))("knn")
      .as[(Long, Long, Double, Int)].collect()
    assert(streamed == canon(batch))
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, simYaml("bruteforce"))
    }
    assert(e.getMessage.contains("lsh or ivf"), e.getMessage)
  }

  test("prebuilt-index validation re-runs after the index dir " +
      "changes: a null-__cell append is caught even though an " +
      "earlier query job validated (and memoized) the same dir") {
    val dim = 8
    val corpus = (1L to 60L).map(i => (i, intVec(i, dim)))
      .toDF("vec_id", "embedding")
    val queries = (1001L to 1003L).map(i => (i, intVec(i * 7, dim)))
      .toDF("vec_id", "embedding")
    val built = Pipeline.transforms("similarity")(spark,
      Pipeline.ModuleCfg("idx", "similarity", Seq("c"), Nil,
        graft.config.Json.parse(
          """{"action": "index", "field": "embedding",
              "idField": "vec_id", "pqM": 4, "pqCodebookSize": 16,
              "centroids": 4, "hashAlgo": "md5"}"""),
        graft.config.Json.obj()),
      Map("c" -> corpus))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-memostale").toString
    built("idx").write.parquet(s"$dir/codes")
    built("idx.codebook").write.parquet(s"$dir/cb")
    built("idx.centroids").write.parquet(s"$dir/cents")
    def query(): org.apache.spark.sql.DataFrame =
      Pipeline.transforms("similarity")(spark,
        Pipeline.ModuleCfg("knn", "similarity",
          Seq("i", "q", "cb", "ct"), Nil,
          graft.config.Json.parse(
            """{"method": "ivf", "field": "embedding",
                "idField": "vec_id", "k": 3, "nProbe": 2,
                "indexInput": "i", "codebookInput": "cb",
                "centroidsInput": "ct"}"""),
          graft.config.Json.obj()),
        Map("i" -> spark.read.parquet(s"$dir/codes"),
          "q" -> queries,
          "cb" -> spark.read.parquet(s"$dir/cb"),
          "ct" -> spark.read.parquet(s"$dir/cents")))("knn")
    // first query job validates the healthy index and memoizes it
    assert(query().count() > 0)
    // the dir then grows IN PLACE by a cell-less increment (the
    // exact corruption the validation exists to catch): rows whose
    // __cell is null can never be reached by an ivf probe
    built("idx")
      .withColumn("__cell",
        org.apache.spark.sql.functions.lit(null).cast("int"))
      .withColumn("vec_id",
        org.apache.spark.sql.functions.col("vec_id") + 1000)
      .write.mode("append").parquet(s"$dir/codes")
    // a memo keyed on the plan alone would skip validation here and
    // serve the unreachable rows silently; the file-set key must
    // re-validate and throw the null-__cell error
    val e = intercept[IllegalArgumentException](query())
    assert(e.getMessage.contains("null __cell"), e.getMessage)
  }
}
