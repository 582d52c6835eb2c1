package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("end-to-end: create -> filter -> select -> aggregation") {
    val config = s"""
      |{
      |  "sources": [{
      |    "name": "in", "module": "create",
      |    "parameters": {
      |      "elements": [
      |        {"id": 1, "cat": "a", "v": 10.0},
      |        {"id": 2, "cat": "a", "v": 20.0},
      |        {"id": 3, "cat": "b", "v": 30.0},
      |        {"id": 4, "cat": "b", "v": null},
      |        {"id": 5, "cat": "c", "v": 50.0}
      |      ],
      |      "schema": {"fields": [
      |        {"name": "id", "type": "int64"},
      |        {"name": "cat", "type": "string"},
      |        {"name": "v", "type": "float64"}]}
      |    }
      |  }],
      |  "transforms": [
      |    {"name": "f", "module": "filter", "inputs": ["in"],
      |     "parameters": {"filter": [{"key": "id", "op": "<", "value": 5}]}},
      |    {"name": "s", "module": "select", "inputs": ["f"],
      |     "parameters": {"select": [
      |        {"name": "cat"},
      |        {"name": "v2", "expression": "v * 2"}]}},
      |    {"name": "agg", "module": "aggregation", "inputs": ["s"],
      |     "parameters": {
      |       "groupFields": ["cat"],
      |       "aggregations": [{"input": "s", "fields": [
      |         {"name": "n", "op": "count"},
      |         {"name": "total", "op": "sum", "field": "v2"},
      |         {"name": "biggest", "op": "max", "field": "v2"}]}]}}
      |  ]
      |}""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val rows = dfs("agg").orderBy("cat").collect()
    assert(rows.length == 2)
    val a = rows(0)
    assert(a.getAs[String]("cat") == "a")
    assert(a.getAs[Long]("n") == 2)
    assert(a.getAs[Double]("total") == 60.0)
    val b = rows(1)
    assert(b.getAs[Long]("n") == 2) // null v still counted (count rows)
    assert(b.getAs[Double]("total") == 60.0) // null skipped in sum
  }

  test("storage source + partition + union round trip") {
    val config = s"""
      |sources:
      |  - name: li
      |    module: storage
      |    parameters:
      |      path: $sf/lineitem.parquet
      |transforms:
      |  - name: parts
      |    module: partition
      |    inputs: [li]
      |    parameters:
      |      exclusive: true
      |      partitions:
      |        - name: returned
      |          filter: [{key: l_returnflag, op: "=", value: R}]
      |        - name: rest
      |sinks: []
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val total = dfs("li").count()
    val r = dfs("parts.returned").count()
    val rest = dfs("parts.rest").count()
    assert(r > 0 && rest > 0 && r + rest == total)
    assert(dfs("parts.defaults").count() == 0)
  }

  test("sql module + lookup broadcast join") {
    val config = s"""
      |sources:
      |  - name: orders
      |    module: storage
      |    parameters: {path: $sf/orders.parquet}
      |  - name: customer
      |    module: storage
      |    parameters: {path: $sf/customer.parquet}
      |transforms:
      |  - name: joined
      |    module: sql
      |    inputs: [orders, customer]
      |    parameters:
      |      sql: >
      |        SELECT o.o_orderkey, c.c_name, o.o_totalprice
      |        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |        WHERE o.o_totalprice > 100000
      |  - name: enriched
      |    module: lookup
      |    inputs: [orders, customer]
      |    parameters:
      |      lookups:
      |        - sideInput: customer
      |          keyField: o_custkey
      |          sideKeyField: c_custkey
      |          name: cust
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    assert(dfs("joined").count() > 0)
    val e = dfs("enriched")
    assert(e.count() == dfs("orders").count())
    assert(e.schema.fieldNames.contains("cust"))
    assert(e.select("cust.c_name").filter($"`c_name`".isNotNull).count() > 0)
  }

  test("unnest + window + limit") {
    val config = s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $sf/events.parquet}
      |transforms:
      |  - name: w
      |    module: window
      |    inputs: [ev]
      |    parameters:
      |      groupFields: [user_id]
      |      orderField: ts
      |      fields:
      |        - {name: prev_value, func: lag, field: value, offset: 1}
      |        - {name: rn, func: row_number}
      |        - {name: run_sum, func: sum, field: value, range: {count: 3}}
      |  - name: top2
      |    module: limit
      |    inputs: [w]
      |    parameters: {count: 2, keyFields: [user_id], orderField: ts}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val w = dfs("w")
    assert(w.filter($"rn" === 1).count() ==
      dfs("ev").select("user_id").distinct.count())
    val t2 = dfs("top2").groupBy("user_id").count()
    assert(t2.agg(max("count")).as[Long].head() <= 2)
  }

  test("dedup exact + textAnalysis on documents") {
    val config = s"""
      |sources:
      |  - name: docs
      |    module: storage
      |    parameters: {path: $sf/documents.parquet}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [docs]
      |    parameters: {method: exact, field: text, idField: doc_id}
      |  - name: ta
      |    module: textAnalysis
      |    inputs: [docs]
      |    parameters: {field: text}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val dd = dfs("dd")
    assert(dd.count() == dfs("docs").count())
    // canonical docs + dups partition the set
    val nDup = dd.filter($"__dup_of".isNotNull).count()
    val distinctTexts = dfs("docs").select("text").distinct.count()
    assert(dd.count() - nDup == distinctTexts)
    val ta = dfs("ta")
    assert(ta.schema.fieldNames.toSet.intersect(
      Set("lang_id", "quality", "n_tokens", "fingerprint")).size == 4)
    // testdata `lang` labels are random (text is English word-soup for
    // every label), so check the detector itself: English should win
    val en = ta.filter($"lang_id" === "en").count().toDouble
    assert(en / ta.count() > 0.7, s"en detection rate ${en / ta.count()}")
    // no false positives: everything else is undetermined
    assert(ta.filter(!$"lang_id".isin("en", "und")).count() == 0)
  }

  test("similarity bruteforce top-k on embeddings") {
    val config = s"""
      |sources:
      |  - name: emb
      |    module: storage
      |    parameters: {path: $sf/embeddings.parquet}
      |transforms:
      |  - name: knn
      |    module: similarity
      |    inputs: [emb]
      |    parameters: {method: bruteforce, field: embedding, idField: vec_id, k: 5, numQueries: 3}
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val knn = dfs("knn").collect()
    assert(knn.length == 15) // 3 queries × 5 neighbors
    assert(knn.forall(r => r.getAs[Int]("rank") <= 5))
    val scores = knn.map(_.getAs[Double]("score"))
    assert(scores.forall(s => s >= -1.0001 && s <= 1.0001))
  }

  test("minhash dedup flags near-duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("minhash_in")
    val config = """
    sources:
      - name: d
        module: create
        parameters:
          elements: [{"doc_id": 0, "text": "placeholder"}]
          schema: {fields: [{name: doc_id, type: int64}, {name: text, type: string}]}
    """
    // drive the transform directly (simpler than temp-view plumbing)
    val cfg = graft.Pipeline.ModuleCfg("dd", "dedup", Seq("d"), Nil,
      graft.config.Json.parse(
        """{"method":"minhash","field":"text","idField":"doc_id",
            "numPermutations":32,"bands":16,"shingleSize":3}"""),
      graft.config.Json.obj())
    val out = graft.operators.DedupTransform.build(
      spark, cfg, Map("d" -> docs))("dd")
    val dupOf = out.select("doc_id", "__dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(dupOf(1L).isEmpty) // canonical
    assert(dupOf(4L).contains(1L)) // identical → dup of 1
    assert(dupOf(2L).contains(1L)) // near-dup → dup of 1
    assert(dupOf(3L).isEmpty) // distinct content survives
  }

  test("minhash dedup md5 mode matches default mode's decisions") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    val cfg = graft.Pipeline.ModuleCfg("dd", "dedup", Seq("d"), Nil,
      graft.config.Json.parse(
        """{"method":"minhash","field":"text","idField":"doc_id",
            "numPermutations":32,"bands":16,"shingleSize":3,
            "hashAlgo":"md5"}"""),
      graft.config.Json.obj())
    val out = graft.operators.DedupTransform.build(
      spark, cfg, Map("d" -> docs))("dd")
    val dupOf = out.select("doc_id", "__dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(dupOf(1L).isEmpty)
    assert(dupOf(4L).contains(1L))
    assert(dupOf(2L).contains(1L))
    assert(dupOf(3L).isEmpty)
  }

  test("null-text docs are never flagged as duplicates of each other") {
    // regression: null text → null signature; without an explicit
    // isNotNull filter before banding the band expression maps every
    // null-sig doc to one constant key (md5("") / hash(null, b)) and
    // they all collapse into a single bogus duplicate cluster
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]),
      (4L, "completely different content about spark query engines")
    ).toDF("doc_id", "text")
    for (params <- Seq(
        """{"method":"minhash","field":"text","idField":"doc_id"}""",
        """{"method":"minhash","field":"text","idField":"doc_id","hashAlgo":"md5"}""",
        """{"method":"simhash","field":"text","idField":"doc_id"}""",
        """{"method":"simhash","field":"text","idField":"doc_id","hashAlgo":"md5"}""",
        """{"method":"ngram","field":"text","idField":"doc_id","hashAlgo":"md5"}""")) {
      val out = graft.operators.DedupTransform.build(spark,
        graft.Pipeline.ModuleCfg("dd", "dedup", Seq("d"), Nil,
          graft.config.Json.parse(params), graft.config.Json.obj()),
        Map("d" -> docs))("dd")
      val dupOf = out.select("doc_id", "__dup_of").as[(Long, Option[Long])]
        .collect().toMap
      assert(dupOf.size == 4 && dupOf.values.forall(_.isEmpty), params)
    }
    val embDocs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, null.asInstanceOf[Array[Float]]),
      (3L, null.asInstanceOf[Array[Float]])
    ).toDF("vec_id", "embedding")
    val out = graft.operators.DedupTransform.build(spark,
      graft.Pipeline.ModuleCfg("dd", "dedup", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"method":"embedding","field":"embedding","idField":"vec_id",
              "dim":4,"planes":4}"""),
        graft.config.Json.obj()),
      Map("d" -> embDocs))("dd")
    val dupOf = out.select("vec_id", "__dup_of").as[(Long, Option[Long])]
      .collect().toMap
    assert(dupOf.size == 3 && dupOf.values.forall(_.isEmpty))
  }

  test("lines dedup strips corpus-frequent boilerplate lines") {
    val docs = Seq(
      (1L, "HEADER\nunique body one\nFOOTER"),
      (2L, "HEADER\nunique body two\nFOOTER"),
      (3L, "HEADER\nunique body three\nFOOTER"),
      (4L, "  HEADER  \n\nonly body four")
    ).toDF("doc_id", "text")
    val out = graft.operators.DedupTransform.build(spark,
      graft.Pipeline.ModuleCfg("dd", "dedup", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"method":"lines","field":"text","idField":"doc_id",
              "minCount":3}"""),
        graft.config.Json.obj()),
      Map("d" -> docs))("dd")
    val m = out.select("doc_id", "text", "__removed_lines")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // HEADER appears 4x (trim-normalized), FOOTER 3x -> both banned
    assert(m(1L) == ("unique body one", 2L))
    assert(m(2L) == ("unique body two", 2L))
    assert(m(3L) == ("unique body three", 2L))
    // empty lines are dropped silently, not counted as removed
    assert(m(4L) == ("only body four", 1L))
  }

  test("hash sample: deterministic, stratified, salt-decorrelated") {
    val rows = (1L to 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "grp")
    def run(params: String) = graft.operators.SampleTransform.build(spark,
      graft.Pipeline.ModuleCfg("s", "sample", Seq("d"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("d" -> rows))("s")
    val p = """{"keyField":"id","fraction":0.3}"""
    val picked = run(p).select("id").as[Long].collect().toSet
    // deterministic: the same rows every run
    assert(run(p).select("id").as[Long].collect().toSet == picked)
    // unbiased-ish: 30% +- 5pp of 2000
    assert(picked.size > 500 && picked.size < 700)
    // fraction bounds
    assert(run("""{"keyField":"id","fraction":1.0}""").count() == 2000)
    assert(run("""{"keyField":"id","fraction":0.0}""").count() == 0)
    // stratified: group a kept in full, group b heavily down-sampled
    val strat = run("""{"keyField":"id","stratifyField":"grp",
      "rates":{"a":1.0,"b":0.1}}""")
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(strat("a") == 1000)
    assert(strat("b") > 50 && strat("b") < 150)
    // salt decorrelates: overlap of two 30% samples ~ 9%, not 30%
    val salted = run("""{"keyField":"id","fraction":0.3,"salt":"s2"}""")
      .select("id").as[Long].collect().toSet
    val overlap = picked.intersect(salted).size
    assert(overlap < picked.size / 2)
  }

  test("weighted reservoir: exact k per stratum, deterministic, " +
      "weight-proportional, non-positive weights excluded") {
    val rows = ((1L to 400L).map(i =>
        (i, if (i % 2 == 0) "a" else "b", 1.0)) :+
        ((1000L, "a", 0.0)) :+ ((1001L, "a", -3.0)))
      .toDF("id", "grp", "w")
    def run(params: String) = graft.operators.SampleTransform.build(
      spark, graft.Pipeline.ModuleCfg("s", "sample", Seq("d"), Nil,
        graft.config.Json.parse(params), graft.config.Json.obj()),
      Map("d" -> rows))("s")
    val p = """{"keyField":"id","k":25,"weightField":"w",
      "groupFields":["grp"]}"""
    val sample = run(p).select("id", "grp").as[(Long, String)]
      .collect()
    assert(sample.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("a" -> 25, "b" -> 25))
    assert(run(p).select("id").as[Long].collect().toSet ==
      sample.map(_._1).toSet, "reservoir must be deterministic")
    assert(!sample.exists(s => s._1 == 1000L || s._1 == 1001L),
      "zero/negative-weight rows must never be sampled")
    // global k (no groups) compiles to TakeOrderedAndProject — the
    // no-funnel top-k — and returns exactly k rows
    val global = run("""{"keyField":"id","k":10}""")
    assert(global.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    assert(global.count() == 10)
    // weight-proportional: one 500x-heavy row survives every one of
    // 20 decorrelated samples (miss chance per sample ~ (1-p)^k,
    // p ~ 500/900; collectively astronomically small)
    val skew = ((1L to 400L).map(i => (i, "g", 1.0)) :+
      ((999L, "g", 500.0))).toDF("id", "grp", "w")
    val misses = (1 to 20).count { s =>
      !graft.operators.SampleTransform.build(spark,
        graft.Pipeline.ModuleCfg("s", "sample", Seq("d"), Nil,
          graft.config.Json.parse(
            s"""{"keyField":"id","k":5,"weightField":"w",
                "salt":"s$s"}"""),
          graft.config.Json.obj()), Map("d" -> skew))("s")
        .select("id").as[Long].collect().contains(999L)
    }
    assert(misses == 0, s"heavy row missed $misses/20 samples")
  }

  test("pack: greedy token-budget sequence packing invariants") {
    val docs = Seq(
      (1L, "a b c"),        // 3 tokens
      (2L, "d e"),          // 2 -> fits with doc1 (5 <= 6)
      (3L, "f g h i"),      // 4 -> overflow, new sequence
      (4L, "j"),            // 1 -> fits (5 <= 6)
      (5L, "k l m n o p q r")) // 8 > budget -> own oversize sequence
      .toDF("doc_id", "text").coalesce(1)
    val out = graft.operators.PackTransform.build(spark,
      graft.Pipeline.ModuleCfg("pk", "pack", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"field":"text","idField":"doc_id","tokenBudget":6}"""),
        graft.config.Json.obj()),
      Map("d" -> docs))("pk")
    val rows = out.select("doc_id", "__tokens", "__sequence_id",
      "__seq_pos", "__oversize")
      .as[(Long, Long, String, Int, Boolean)].collect().sortBy(_._1)
    val bySeq = rows.groupBy(_._3)
    // exact greedy assignment on the single partition
    assert(rows.map(r => (r._1, r._3, r._4)).toSeq == Seq(
      (1L, "0-0", 0), (2L, "0-0", 1), (3L, "0-1", 0), (4L, "0-1", 1),
      (5L, "0-2", 0)))
    // invariant: no multi-doc sequence exceeds the budget
    bySeq.values.filter(_.length > 1).foreach { s =>
      assert(s.map(_._2).sum <= 6L)
    }
    // oversize doc flagged and alone
    assert(rows.find(_._1 == 5L).exists(_._5))
    assert(bySeq(rows.find(_._1 == 5L).get._3).length == 1)
    // positions contiguous from 0 within each sequence
    bySeq.values.foreach { s =>
      assert(s.map(_._4).sorted.toSeq == (0 until s.length))
    }
    // materialize: one row per sequence, docs joined in pack order
    val mat = graft.operators.PackTransform.build(spark,
      graft.Pipeline.ModuleCfg("pk", "pack", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"field":"text","idField":"doc_id","tokenBudget":6,
             "materialize":true,"separator":" | "}"""),
        graft.config.Json.obj()),
      Map("d" -> docs))("pk")
      .select("__sequence_id", "text", "__tokens", "__n_docs",
        "__oversize")
      .as[(String, String, Long, Int, Boolean)].collect()
      .sortBy(_._1).toSeq
    assert(mat == Seq(
      ("0-0", "a b c | d e", 5L, 2, false),
      ("0-1", "f g h i | j", 5L, 2, false),
      ("0-2", "k l m n o p q r", 8L, 1, true)))
  }

  test("decontaminate flags and removes docs sharing benchmark n-grams") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "totally unrelated words about spark engines and columnar io layers"),
      (3L, "prefix words here then alpha beta gamma delta epsilon zeta eta theta trailing")
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1("alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("text")
    def run(extra: String) = graft.operators.DedupTransform.build(spark,
      graft.Pipeline.ModuleCfg("dc", "dedup", Seq("d", "b"), Nil,
        graft.config.Json.parse(
          s"""{"method":"decontaminate","field":"text","idField":"doc_id",
              "ngramSize":8$extra}"""),
        graft.config.Json.obj()),
      Map("d" -> docs, "b" -> bench))("dc")
    val flags = run("").select("doc_id", "__contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(flags(1L) && flags(3L) && !flags(2L))
    val kept = run(""","action":"remove"""").select("doc_id")
      .as[Long].collect().toSeq
    assert(kept == Seq(2L))
    // an over-limit benchmark (broadcastThreshold 1) switches to the
    // bloom-prefilter + exact-verify path — flags must be identical
    // (the bloom only pre-prunes; the semi-join keeps exactness)
    val bloomFlags = run(""","broadcastThreshold":1""")
      .select("doc_id", "__contaminated")
      .as[(Long, Boolean)].collect().toMap
    assert(bloomFlags == flags, s"bloom path diverged: $bloomFlags")
    // report action: doc 1 has 3 distinct 8-grams (10 tokens), of
    // which exactly one — the benchmark line itself — matches
    val rep = run(""","action":"report"""")
      .select("doc_id", "__grams_total", "__grams_matched", "__overlap")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(rep(1L) == ((3L, 1L, 1.0 / 3.0)), rep(1L))
    assert(rep(2L)._2 == 0L && rep(2L)._3 == 0.0)
    assert(rep(3L)._2 > 0 && rep(3L)._3 < 1.0)
    val e = intercept[IllegalArgumentException](
      run(""","action":"tally""""))
    assert(e.getMessage.contains("valid"))
  }

  test("textAnalysis pii feature masks emails, ips, phones in order") {
    val docs = Seq(
      (1L, "mail a.b+c@x-corp.io and 10.0.0.1 then +81-03-1234 end"),
      (2L, "no pii here, just 42 words and 1.5 numbers"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysisTransform.build(spark,
      graft.Pipeline.ModuleCfg("ta", "textAnalysis", Seq("d"), Nil,
        graft.config.Json.parse("""{"field":"text","features":["pii"]}"""),
        graft.config.Json.obj()),
      Map("d" -> docs))("ta")
    val rows = out.select("doc_id", "pii_emails", "pii_ips",
      "pii_phones", "text_masked")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(rows(0) == ((1L, 1L, 1L, 1L,
      "mail [EMAIL] and [IP] then [PHONE] end")))
    assert(rows(1) == ((2L, 0L, 0L, 0L,
      "no pii here, just 42 words and 1.5 numbers")))
  }

  test("textAnalysis repetition signals") {
    val docs = Seq((1L, "x y x y x\nfoo\nfoo\n### ... done"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysisTransform.build(spark,
      graft.Pipeline.ModuleCfg("ta", "textAnalysis", Seq("d"), Nil,
        graft.config.Json.parse(
          """{"field":"text","features":["repetition"]}"""),
        graft.config.Json.obj()),
      Map("d" -> docs))("ta").collect().head
    // lines: [x y x y x, foo, foo, ### ... done] -> 1 - 3/4
    assert(math.abs(out.getAs[Double]("dup_line_frac") - 0.25) < 1e-9)
    // tokens: x y x y x foo foo done (8, 4 distinct) -> 0.5
    assert(math.abs(out.getAs[Double]("dup_word_frac") - 0.5) < 1e-9)
    // bigrams: "x y" twice of 7 total
    assert(math.abs(out.getAs[Double]("top_bigram_frac") - 2.0 / 7) < 1e-9)
    // symbols: 3 x '#' + 1 x '...' over 8 words
    assert(math.abs(out.getAs[Double]("symbol_ratio") - 0.5) < 1e-9)
  }

  test("storage sink: templated output routes records to dynamic destinations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dyndest").toString
    val rows = Seq((1, "A", "x"), (2, "B", "y"), (3, "A", "z"))
      .toDF("id", "grp", "v")
    val cfg = Pipeline.ModuleCfg("s", "storage", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"output": """" + dir + """/out/${grp}/data",
           "format": "csv"}"""),
      graft.config.Json.obj())
    graft.operators.StorageSink.write(cfg, rows)
    def csv(sub: String): Seq[String] = {
      val d = new java.io.File(s"$dir/out/$sub/data")
      assert(d.isDirectory, s"missing destination dir: $d")
      d.listFiles().filter(_.getName.endsWith(".csv")).toSeq
        .flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq)
    }
    val a = csv("A")
    assert(a.count(_ == "id,grp,v") >= 1 && a.contains("1,A,x") &&
      a.contains("3,A,z"))
    assert(csv("B").contains("2,B,y"))
    // the escaped partition layout is fully renamed away
    assert(!new java.io.File(s"$dir/out").listFiles()
      .exists(_.getName.startsWith("__dest=")))
  }

  test("text sink: templated path writes one file per record") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textsink").toString
    val rows = Seq((1, "alice"), (2, "bob"), (3, "carol"))
      .toDF("id", "name")
    val cfg = Pipeline.ModuleCfg("t", "text", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"output": """" + dir + """/user-${id}.txt",
           "template": "hello ${name} (#${id})"}"""),
      graft.config.Json.obj())
    graft.operators.TextSink.write(cfg, rows)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("user-1.txt", "user-2.txt", "user-3.txt"))
    val c = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "user-2.txt")), "UTF-8")
    assert(c == "hello bob (#2)")
  }

  test("logging taps observe module output counts without plan damage") {
    val config = """
      |sources:
      |  - name: li
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/lineitem.parquet}
      |transforms:
      |  - name: big
      |    module: filter
      |    inputs: [li]
      |    loggings: [{name: big, level: info}]
      |    parameters:
      |      filters: [{key: l_quantity, op: ">", value: 45}]
      |""".stripMargin
    val dfs = Pipeline.build(spark, config)
    val n = dfs("big").count()
    // listener fires asynchronously after the action completes
    val eventually = (1 to 50).exists { _ =>
      val m = graft.LoggingTaps.observed.get("big.big|info")
      if (m == null) { Thread.sleep(100); false }
      else { assert(m("count") == n); true }
    }
    assert(eventually, "observed metric never arrived")
    // the tap must not break scan pushdown
    val plan = dfs("big").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []"))
  }

  test("execute() releases operator-persisted frames once sink " +
      "actions complete") {
    spark.catalog.clearCache()
    val dir = java.nio.file.Files.createTempDirectory("unpersist").toString
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: docs
      |    module: storage
      |    parameters: {path: /root/testdata/sf0.001/documents.parquet}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [docs]
      |    parameters:
      |      method: ngram
      |      field: text
      |      idField: doc_id
      |      ngramSize: 5
      |      threshold: 0.7
      |sinks:
      |  - name: out
      |    module: storage
      |    input: dd
      |    parameters: {output: "$dir/out", format: parquet}
      |""".stripMargin)
    assert(spark.read.parquet(s"$dir/out").count() > 0)
    // ngramDedup persists candidates + candidate grams during the
    // write; a long-lived session must not accrete those blocks
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "cached RDDs leaked past execute(): " +
        spark.sparkContext.getPersistentRDDs.values.map(_.name))
  }

  test("text sink: colliding rendered paths fail instead of clobbering") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textsinkc").toString
    val rows = Seq((1, "alice"), (1, "bob")).toDF("id", "name")
    val cfg = Pipeline.ModuleCfg("t", "text", Seq("in"), Nil,
      graft.config.Json.parse(
        """{"output": """" + dir + """/user-${id}.txt",
           "template": "${name}"}"""),
      graft.config.Json.obj())
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.TextSink.write(cfg, rows)
    }
    assert(e.getMessage.contains("render the same path") ||
      Option(e.getCause).exists(_.getMessage.contains("render the same path")))
  }

  test("pipeline construction compiles operator caches adaptively " +
      "and restores the session conf") {
    val key =
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prior = spark.conf.get(key)
    assert(prior == "false", "this pin assumes the Spark default")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r22cache").toString
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/docs")
    Seq((1L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/bench")
    // decontaminate persists its benchmark gram set and counts it
    // DURING construction — with the construction-scoped conf the
    // cached plan is compiled with free output partitioning, so the
    // tiny distinct materializes AQE-coalesced instead of at the
    // session shuffle-partition count (the q132/q126/q140 mechanism)
    val partsKey = "spark.sql.shuffle.partitions"
    val partsPrior = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "32")
    try {
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      Pipeline.build(spark, s"""
        |sources:
        |  - name: docs
        |    module: storage
        |    parameters: {path: $dir/docs}
        |  - name: bench
        |    module: storage
        |    parameters: {path: $dir/bench}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [docs, bench]
        |    parameters: {method: decontaminate, action: flag,
        |      field: text, idField: doc_id, ngramSize: 3}
        |""".stripMargin)
      assert(spark.conf.get(key) == prior,
        "the construction-scoped conf must restore afterwards")
      val cached = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => rddsBefore.contains(id) }
      assert(cached.nonEmpty,
        "decontaminate must have materialized its persisted gram set")
      val parts = cached.values.map(_.getNumPartitions)
      assert(parts.forall(_ < 32),
        s"cached frames must coalesce below the session partition " +
          s"count, got $parts")
    } finally {
      spark.conf.set(partsKey, partsPrior)
      spark.catalog.clearCache()
    }
  }
}
