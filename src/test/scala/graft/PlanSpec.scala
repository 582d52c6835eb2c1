package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard for the scale-critical properties:
  * pushdown, pruning, and the absence of single-partition funnels.
  * These are the 100 TB posture invariants — a change that silently
  * loses one of them passes every row-level test while becoming a
  * cluster bottleneck. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString

  test("q2 filter tree pushes predicates into the parquet scan") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters: ["), "no pushdown block in scan")
    assert(!p.contains("PushedFilters: []"), "empty pushdown")
  }

  test("q1 scan is pruned to the referenced columns") {
    val p = plan("q1_pricing")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 4 columns used: quantity, returnflag, linestatus, shipdate
    assert(read.contains("l_quantity") && read.contains("l_shipdate"))
    assert(!read.contains("l_extendedprice"),
      "scan reads columns the query never touches")
    // map-side combine before the exchange
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "no partial aggregation below the shuffle")
  }

  test("q23 similarity top-k has no per-query Window funnel") {
    val p = plan("q23_knn")
    assert(!p.contains("Window"),
      "similarity ranking regressed to a single-partition-per-query " +
        "window sort")
    assert(p.contains("Aggregate"), "expected partial top-k aggregate")
  }

  test("q48 decontaminate semi-joins corpus grams against a broadcast") {
    val p = plan("q48_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "benchmark gram set should broadcast (corpus grams must never " +
        "shuffle for the containment probe)")
  }

  test("q14 exact dedup aggregates narrow keys, not full-width rows") {
    val p = plan("q14_dedup_exact")
    // the aggregate side carries only (fingerprint, min id)
    assert(p.contains("xxhash64"))
    assert(p.contains("partial_min") || p.contains("min("),
      "missing map-side min combine")
  }

  test("q51 sample is a pure map-side filter: no shuffle, no UDF") {
    val p = plan("q51_sample")
    assert(!p.contains("Exchange"),
      "hash sampling must not shuffle — the keep decision is a pure " +
        "function of the row")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "sampling predicate left the codegen path")
  }

  test("q67 mixture is a union of filtered scans: no shuffle, no UDF") {
    // every epoch leg is a map-side filter over its input's scan;
    // a shuffle would mean epoch replication started moving the
    // corpus instead of re-reading it
    val p = plan("q67_mixture")
    assert(p.contains("Union"), "mixture legs lost the union shape")
    assert(!p.contains("Exchange"),
      "mixture must not shuffle — each leg is a pure filter")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "mixture predicate left the codegen path")
  }

  test("q52 pack plan has no shuffle before the packer") {
    // per-partition greedy packing: mapPartitions directly over the
    // scan; a shuffle would mean the packer lost its zero-movement
    // contract (the downstream summary agg may shuffle)
    val p = SparkEntry.queries("q52_pack")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    val packIdx = p.indexOf("MapPartitions")
    val exchIdx = p.lastIndexOf("Exchange")
    assert(packIdx >= 0, "pack stage missing from plan")
    assert(exchIdx < packIdx,
      "shuffle below the packer — packing must consume scan output " +
        "in place")
  }

  test("q50 line dedup: frequency count is a partial aggregate, " +
      "not a window funnel") {
    val p = plan("q50_dedup_lines")
    assert(p.contains("partial_count"),
      "line frequencies must map-side combine (skew safety: the hot " +
        "boilerplate line shuffles once per task, not per occurrence)")
    assert(!p.linesIterator.exists(l => l.contains("Window") &&
        l.contains("__line")),
      "per-line window count funnels every occurrence of a hot line " +
        "into one partition")
  }

  // codec paths: the only allowed Exchange is the deliberate
  // round-robin widen that spreads codec CPU across cores — a
  // hash/range exchange would mean the per-row encode/decode path
  // acquired a keyed shuffle it does not need
  private def assertNoKeyedShuffle(q: String): Unit = {
    val p = plan(q)
    val keyed = p.linesIterator.filter(l => l.contains("Exchange") &&
      (l.contains("hashpartitioning") || l.contains("rangepartitioning")))
    assert(keyed.isEmpty,
      s"codec path shuffles on a key: ${keyed.mkString("; ")}")
  }

  test("q59 protobuf roundtrip has no keyed shuffle") {
    assertNoKeyedShuffle("q59_protobuf_roundtrip")
  }

  test("q54 avro byte roundtrip has no keyed shuffle") {
    assertNoKeyedShuffle("q54_avro_roundtrip")
  }

  test("q68 gopher rules are a shuffle-free codegen projection") {
    // the quality filter is a scan-rate operator at 100 TB: every
    // signal must stay a map-side regexp_count — an Exchange, an
    // interpreted HOF lambda, or a UDF here multiplies the cost of
    // every curation pass over the corpus
    val p = plan("q68_gopher")
    assert(!p.contains("Exchange"),
      "gopher rules must not shuffle — the rule set is a projection")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      "gopher signal left the codegen path")
    assert(!p.contains("ArrayFilter") && !p.contains("ArrayTransform"),
      "gopher signal regressed to an interpreted higher-order function")
  }

  test("q79 span dedup: narrow hash aggregates with map-side combine, " +
      "no span strings past the UDF, no cartesian") {
    val p = plan("q79_dedup_spans")
    // the dup-hash inventory must partial-combine below its exchange:
    // at 100 TB the (hash, id) rows are the widest frame in the plan
    // and the map-side combine is what keeps the shuffle at 16 B/span
    assert(p.contains("partial_count"),
      "span inventory lost its map-side partial aggregate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "span dedup must never form a pairwise product")
    // span STRINGS must die inside the hashing UDF — a concat_ws or
    // slice in the plan means the O(len·L) strings got materialized
    // into Tungsten rows (and shuffled)
    assert(!p.contains("concat_ws") && !p.contains("slice("),
      "span strings leaked out of the per-doc hashing pass")
  }

  test("q83 asof join: one window pass, no pair materialization") {
    val p = plan("q83_asof")
    assert(p.contains("Window"), "as-of lost its window formulation")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      "as-of must never materialize candidate pairs")
    assert(!p.contains("ScalaUDF"), "as-of is pure Catalyst")
    // the as-of itself is ONE shuffle (the window's hashpartitioning
    // on the by keys); the dim-prep aggregate adds its own two —
    // anything beyond that means the union/window plan regressed
    assert("Exchange hashpartitioning".r
      .findAllMatchIn(p).size <= 3, p.linesIterator
      .filter(_.contains("Exchange")).mkString("\n"))
  }

  test("q85 unpivot is a zero-shuffle Expand") {
    val p = plan("q85_unpivot")
    assert(p.contains("Expand"), "unpivot should compile to Expand")
    assert(!p.contains("Exchange"), "unpivot must not shuffle")
  }

  test("q84 pivot with declared values: one scan, partial combine") {
    val p = plan("q84_pivot")
    assert("FileScan".r.findAllMatchIn(p).size == 1,
      "declared-values pivot must not add a distinct value scan")
    assert(p.contains("partial_pivotfirst"),
      "pivot lost its map-side partial aggregate")
  }

  test("q87 hll sketches partial-combine at both stages") {
    val p = plan("q87_hll_sketch")
    assert(p.contains("partial_hll_sketch_agg"),
      "sketch build lost its map-side partial")
    assert(p.contains("partial_hll_union_agg"),
      "sketch union lost its map-side partial — merges would " +
        "funnel raw sketches into the final aggregation")
  }

  test("q96 top-k sketches partial-combine at both stages") {
    val p = plan("q96_topk_sketch")
    assert(p.contains("partial_approx_top_k_accumulate"),
      "sketch build lost its map-side partial")
    assert(p.contains("partial_approx_top_k_combine"),
      "sketch merge lost its map-side partial — merges would " +
        "funnel raw sketches into the final aggregation")
  }

  test("q97 chunk explode is map-side: no shuffle, no UDF") {
    val p = plan("q97_chunk")
    // r21: a narrow input may fan out through ONE round-robin widen
    // exchange so the per-row chunk program parallelizes (q116's md5
    // cdc measured 3.75 s single-task without it); a KEYED shuffle
    // of the rows would still be a regression
    assert(!p.contains("hashpartitioning"),
      "chunking must not key-shuffle rows")
    assert(!p.contains("ScalaUDF"), "chunking is pure Catalyst")
    assert(p.contains("Generate"), "expected the posexplode Generate")
  }

  test("q86 normalize stays codegen'd and shuffle-free") {
    val p = plan("q86_normalize")
    assert(!p.contains("ScalaUDF") && !p.contains("Exchange"),
      "normalize is a map-side native expression")
  }

  test("q107 tokenizer-exact chunk stays map-side pure Catalyst") {
    val p = plan("q107_chunk_tokens")
    // round-robin widen allowed (see q97 pin); keyed shuffles not
    assert(!p.contains("hashpartitioning"),
      "token chunking must not key-shuffle rows")
    assert(!p.contains("ScalaUDF"),
      "pattern-mode tokenize + chunk are pure Columns")
  }

  test("q110 tfidf: tf aggregate partial-combines below its shuffle") {
    val p = plan("q110_tfidf")
    assert(p.contains("partial_count"),
      "the (doc, term) count must combine map-side — the explode " +
        "fan-out must never cross the wire raw:\n" + p)
    assert(!p.contains("ScalaUDF"), "tokenization is pure Columns")
  }

  test("q108 degrees is one narrow distinct+count, no row explosion") {
    val p = plan("q108_degrees")
    assert(p.contains("partial_count") || p.contains("Aggregate"),
      "degree count must partial-combine")
    assert(!p.contains("Window"),
      "degrees must not rank — a Window here is a per-key funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("ScalaUDF"))
  }

  test("q123 sentence chunking is map-side: no shuffle, no UDF") {
    val p = plan("q123_chunk_sentence")
    // round-robin widen allowed (see q97 pin); keyed shuffles not
    assert(!p.contains("hashpartitioning"),
      "sentence chunking must not key-shuffle rows")
    assert(!p.contains("ScalaUDF"),
      "segmentation + offset fold are pure Catalyst")
    assert(p.contains("Generate"), "expected the posexplode Generate")
  }

  test("q122 theta sketches partial-combine at both stages") {
    val p = plan("q122_theta_overlap")
    // two-stage merge: the per-(status,priority) sketch and the
    // per-status union must both aggregate below their exchanges
    // (ObjectHashAggregate for the typed imperative agg)
    assert(p.contains("ObjectHashAggregate") ||
      p.contains("SortAggregate"), "expected typed-agg operators:\n" + p)
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange > 0 &&
      p.substring(firstExchange).contains("Aggregate"),
      "no aggregate below the first exchange")
  }

  test("q114 kll sketches run on Spark's native aggregates, " +
      "partial-combined at both stages") {
    val p = plan("q114_kll_sketch")
    assert(p.contains("partial_kll_sketch_agg_double"),
      "sketch build lost its native map-side partial:\n" + p)
    assert(p.contains("partial_kll_merge_agg_double"),
      "sketch merge lost its native map-side partial:\n" + p)
    assert(!p.contains("ScalaAggregator"),
      "a hand-written sketch aggregator is back in the plan")
  }

  test("q122 theta sketches run on Spark's native aggregates, " +
      "partial-combined at both stages") {
    val p = plan("q122_theta_overlap")
    assert(p.contains("partial_theta_sketch_agg"),
      "sketch build lost its native map-side partial:\n" + p)
    assert(p.contains("partial_theta_union_agg"),
      "sketch union lost its native map-side partial:\n" + p)
    assert(!p.contains("ScalaAggregator"),
      "a hand-written sketch aggregator is back in the plan")
  }

  test("q128 triangles: equi-joined wedges, no cartesian, no window") {
    val p = plan("q128_triangles")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the wedge join must keep its equi-key:\n" + p)
    assert(!p.contains("Window"),
      "triangle counting must not rank — counts are a partial agg")
    assert(!p.contains("ScalaUDF"))
  }

  test("q127 winnow fingerprints are a pure Column program") {
    val p = plan("q127_dedup_winnow")
    assert(!p.contains("ScalaUDF"),
      "winnow must not use a UDF in either hash mode — split, gram " +
        "hash, and window min are all Catalyst")
    assert(!p.contains("CartesianProduct"))
    // once a fingerprint row exists (post-explode), no plan node may
    // still carry the document text: a line naming the exploded
    // __fp attribute must not also name __t. (An Exchange line alone
    // would be vacuous — it prints only the partitioning expression,
    // never the shuffled output columns.)
    val bad = p.linesIterator.exists(l =>
      l.contains("__fp#") && l.contains("__t#"))
    assert(!bad, "document text carried alongside the fingerprint " +
      "rows:\n" + p)
  }

  test("q125 selfJoin candidates cross the cell shuffle ids-only") {
    val p = plan("q125_knn_selfjoin")
    // the embedding arrays must re-attach ABOVE the candidate join:
    // no exchange may carry the float vectors alongside the cell key
    val bad = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(__cell") &&
        l.contains("embedding"))
    assert(!bad, "embedding arrays shuffled with the cell key:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "self-join regressed to a cross product")
    assert(!p.contains("Window"),
      "selfJoin ranking regressed to a per-query Window funnel")
  }

  test("q143 interval join is an equi-join on (user, bin) — never " +
      "a nested-loop range join") {
    val p = plan("q143_interval_join")
    assert(!p.contains("BroadcastNestedLoop") &&
      !p.contains("CartesianProduct"),
      "range predicate planned as a nested loop:\n" + p)
    assert(p.contains("__bin"), "bin bucketing missing from plan")
  }

  test("q144 fuzzy join blocks before measuring: equi-join on the " +
      "block key, levenshtein only above it") {
    val p = plan("q144_fuzzy_join")
    assert(!p.contains("BroadcastNestedLoop") &&
      !p.contains("CartesianProduct"),
      "fuzzy verify planned as all-pairs:\n" + p)
    assert(p.contains("__blk"), "block key missing from plan")
  }

  test("q156 token_jaccard join: candidates are ids-only equi-joins, " +
      "the set measure evaluated once above them") {
    val p = plan("q156_fuzzy_token")
    assert(!p.contains("BroadcastNestedLoop") &&
      !p.contains("CartesianProduct"),
      "token verify planned as all-pairs:\n" + p)
    assert(p.contains("__lid") && p.contains("__rid"),
      "ids-only candidate columns missing from plan")
    // single post-join evaluation: the intersect appears once, not
    // duplicated into a join condition
    assert("array_intersect".r.findAllIn(p).length == 1,
      "set measure duplicated into the join condition:\n" + p)
  }

  test("q158 streaming interval join plans stateless: stream-static " +
      "join, no state store operator") {
    // build the join module directly on a rate stream (the gate's
    // file-stream twin): the analyzed streaming plan must contain
    // no stateful operator — each micro-batch joins independently
    import org.apache.spark.sql.functions._
    val sl = spark.readStream.format("rate").load()
      .select(col("value").as("event_id"),
        (col("value") % 5).as("user_id"),
        col("timestamp").as("ts"))
    val wins = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("wid"), col("user_id"),
        col("ts").cast("timestamp").as("s"),
        expr("ts + INTERVAL 2 HOUR").cast("timestamp").as("e"))
    val out = graft.operators.JoinTransform.build(spark,
      graft.Pipeline.ModuleCfg("ij", "join", Seq("l", "r"), Nil,
        graft.config.Json.parse(
          """{"method":"interval","by":["user_id"],"leftOn":"ts",
             "rightStart":"s","rightEnd":"e","binWidth":"1h"}"""),
        graft.config.Json.obj()),
      Map("l" -> sl, "r" -> wins))("ij")
    assert(out.isStreaming)
    val lp = out.queryExecution.analyzed.toString
    assert(!lp.contains("FlatMapGroupsWithState") &&
      !lp.contains("Deduplicate") && !lp.contains("Aggregate"),
      "streaming interval join must stay stateless:\n" + lp)
  }

  test("dedup verdicts: map-side partial min, no cartesian; the " +
      "corpus join broadcasts the small verdict side") {
    import spark.implicits._
    val cand = (1L to 2000L).map(i => (i.toString, (i % 8).toInt,
      (i / 2).toString)).toDF("doc_id", "__band_idx", "__dup_of")
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.operators.DedupTransform.build(spark,
      graft.Pipeline.ModuleCfg("vd", "dedup", Seq("c", "k"), Nil,
        graft.config.Json.parse(
          """{"method":"verdicts","idField":"doc_id",
              "corpusInput":"k"}"""),
        graft.config.Json.obj()),
      Map("c" -> cand, "k" -> corpus))("vd")
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("partial_min") || p.contains("partial min") ||
      p.contains("HashAggregate"),
      "verdicts reduce must partial-aggregate map-side:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      "verdicts corpus join must stay an equi-join:\n" + p)
    assert(p.contains("BroadcastHashJoin"),
      "small verdict side should broadcast under AQE/stats:\n" + p)
  }
}
