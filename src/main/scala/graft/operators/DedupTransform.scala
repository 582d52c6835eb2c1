package graft.operators

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `dedup` transform — large-scale training-data deduplication.
  * Methods (config `method`):
  *
  *  - `exact`: hash-groupBy on normalized content; keeps the
  *    smallest-id representative. One shuffle on the content hash.
  *  - `minhash`: word-shingle MinHash + LSH banding.
  *  - `simhash`: 64-bit SimHash + Hamming-LSH bands.
  *  - `ngram`: char-n-gram MinHash candidates verified by exact
  *    n-gram Jaccard within buckets.
  *  - `winnow`: winnowed token-gram fingerprints (Schleimer et al.,
  *    SIGMOD 2003 / MOSS) — per-window minimum gram hashes as the
  *    candidate index, exact fingerprint-set Jaccard verify.
  *  - `embedding`: cosine near-dup via random-hyperplane LSH buckets
  *    + within-bucket cosine verification.
  *  - `semdedup`: k-means-cluster embedding dedup (SemDeDup,
  *    arXiv:2303.09540) — nearest-centroid cells + within-cell cosine
  *    against a representative (default: the paper's
  *    keep-farthest-from-centroid policy).
  *  - `verdicts`: batch doc-level reduce over DRAINED streaming
  *    near-dedup candidate rows (min `__dup_of` per doc, optional
  *    transitive closure, optional corpus left-join / anti-join via
  *    `corpusInput` + `keep: canonical`) — composes a streaming
  *    near-dedup run back into the batch dedup output shape.
  *
  * PERFORMANCE NOTE: signatures are computed via an explode →
  * codegen'd hash → groupBy(min/sum) pipeline, NOT via nested
  * higher-order array functions. HOF lambdas are interpreted
  * (no codegen) and — worse — Catalyst's CollapseProject inlines a
  * single-use upstream expression into a lambda body, where it is
  * re-evaluated once PER ARRAY ELEMENT (observed 100×+ blowup at
  * 500 docs). The explode form is all codegen'd, shuffles only
  * (doc, 64·long) per doc, and map-side-combines the mins.
  *
  * Output = input plus `__dup_of` (null for canonical docs), or only
  * canonical rows when `keep: "canonical"`.
  */
object DedupTransform {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val raw = TransformCommon.single(cfg, inputs)
    val p = cfg.params
    val method = p.str("method").getOrElse("exact")
    // corpus-wide dedup needs a bounded input: every method except
    // decontaminate compares each doc against the WHOLE corpus
    // (bucket windows, corpus-wide line frequencies, iterative
    // closure), none of which can execute incrementally — without
    // this guard a streaming frame surfaces as an opaque Spark
    // unsupported-operation error at sink-start time (or a
    // mid-build crash for transitive). Decontaminate is the one
    // streamable method: a stream-static semi-join against the
    // bounded benchmark side.
    // streaming exact dedup: first-seen-wins within the watermark
    // horizon via dropDuplicatesWithinWatermark — duplicates whose
    // event time lands within `allowedLateness` of the first
    // occurrence drop, and a fingerprint's state expires once the
    // watermark passes it, so state stays bounded by horizon × rate
    // (the scalable streaming semantic; re-occurrences beyond the
    // horizon may legitimately re-emit). Unlike batch exact there is
    // no __dup_of labeling — the stream cannot know future members.
    // the streaming dispatches below run BEFORE the cross-corpus
    // dispatch — without this guard a streaming referenceInput job
    // would silently self-dedup and never consult the reference
    require(!raw.isStreaming || p.str("referenceInput").isEmpty,
      s"dedup ${cfg.name}: referenceInput does not combine with a " +
        "streaming input — streaming dedup compares arrivals against " +
        "the stream's own within-horizon bucket owners, not a " +
        "reference corpus. Use method: decontaminate for " +
        "stream-against-static matching, or dedup against the " +
        "reference in a batch stage")
    // pre-validate the streaming contract up front: the validated
    // (strategy, ts) pair is passed down so the contract (and its
    // unknown-key warning) runs exactly once per build
    var streamContract: Option[
      (com.fasterxml.jackson.databind.JsonNode, String)] = None
    if (raw.isStreaming) method match {
      case "exact" =>
        require(cfg.node("strategy")
            .exists(_.str("timestampField").isDefined),
          "streaming exact dedup needs strategy.timestampField (and " +
            "allowedLateness) to bound its state: without an " +
            "event-time horizon the seen-fingerprint state grows " +
            "with the whole stream")
      case "winnow" =>
        // the fingerprint-INDEX action compares nothing — it is a
        // corpus materialization and needs the bounded batch path
        require(p.str("action").isEmpty,
          s"dedup ${cfg.name}: winnow action: index requires a " +
            "bounded (batch) input — materialize the index in a " +
            "batch stage; the streaming form emits candidate rows")
        streamContract = Some(streamingDedupContract(cfg, method))
      case "minhash" | "simhash" | "embedding" | "ngram" =>
        streamContract = Some(streamingDedupContract(cfg, method))
      case "decontaminate" => () // stream-against-static, stateless
      case other =>
        throw new IllegalArgumentException(
          s"dedup method '$other' requires a bounded (batch) input: " +
            "corpus-wide deduplication cannot run incrementally on a " +
            "stream. Dedup the corpus in a batch stage, use " +
            "method: exact with strategy.timestampField (first-seen-" +
            "wins within the watermark horizon), method: minhash/" +
            "simhash/ngram/embedding/winnow with strategy." +
            "timestampField (LSH/fingerprint near-dedup within the " +
            "watermark horizon, candidate rows), method: " +
            "decontaminate (stream-against-static), or " +
            "window the stream upstream and dedup each window's batch " +
            "output.")
    }
    // read once: every signature, bucket and fingerprint below hashes
    // the same way (md5 = the SQL-replayable audit mode)
    val md5Mode = p.str("hashAlgo").contains("md5")
    if (raw.isStreaming && method == "exact") {
      val strategy = cfg.node("strategy").getOrElse(
        graft.config.Json.obj())
      graft.streaming.Strategy.warnUnknownKeys(strategy, cfg.name)
      // presence guaranteed by the pre-validation require above
      val ts = strategy.str("timestampField").get
      val textField = p.str("field").getOrElse("text")
      val wm = graft.streaming.Strategy.applyWatermark(raw, strategy, ts)
      val out = wm.withColumn("__fp", fingerprint(col(textField)))
        .dropDuplicatesWithinWatermark("__fp")
        .drop("__fp")
      return TransformCommon.finishRouted(out, cfg)
    }
    // streaming NEAR-dedup (minhash/simhash/ngram/winnow/embedding):
    // watermark-bounded bucket-owner state — the 100 TB ingest shape
    // (flag near-dups against everything seen within the horizon
    // without re-scanning the corpus). Emits candidate rows; see
    // streamingNearDedup.
    if (streamContract.isDefined)
      return TransformCommon.finishRouted(streamingNearDedup(raw, cfg,
        method, streamContract.get, md5Mode), cfg)
    // (non-streamable methods on a stream threw in the pre-validation
    // match above, before any conf scoped)
    // cross-corpus mode: flag primary rows near-duplicating a
    // REFERENCE corpus (dedup a new crawl against the existing
    // training set) instead of self-dedup
    if (p.str("referenceInput").isDefined)
      return crossCorpus(cfg, inputs, p.str("referenceInput").get, method,
        md5Mode)

    // signature/gram UDFs are arithmetic-dense per row: a small input
    // (one parquet split) would serialize them onto one task, so widen
    // to cluster parallelism first (no-op at scale — see widen docs).
    // NOT for exact: one codegen'd fingerprint per row is cheaper
    // than the exchange the widen inserts (measured 2.4s -> 6.6s on
    // the q14 gate when widen applied to it). NOT for lines either:
    // its per-row work (split+trim) is fingerprint-cheap, and the
    // input is referenced three times (line freq, rebuild, final
    // join), so the un-cached widen exchange re-executes per
    // reference (measured 2.2s -> 3.9s of stage time on q50).
    // NOT for spans either: same multi-reference shape as lines (the
    // span frame, the totals projection and the final join each scan
    // the input), so the un-cached widen exchange would re-execute per
    // reference; the span UDF is one StringBuilder pass per doc.
    val df =
      if (method == "exact" || method == "lines" || method == "spans" ||
        method == "substring" || method == "verdicts") raw
      else TransformCommon.widen(raw)
    val textField = p.str("field").getOrElse("text")
    val idField = p.str("idField").getOrElse(df.columns.head)

    // transitive: resolve __dup_of to the connected-component minimum
    // (hash-min propagation over the candidate/verified pair set) so
    // chains A~B, B~C collapse to one cluster even when A and C never
    // shared a bucket
    val transitive = p.bool("transitive").getOrElse(false)
    val maxIter = p.int("maxIterations").getOrElse(50)
    val keepCanonical = p.str("keep")
      .exists(k => k == "canonical" || k == "first")
    if (method == "exact" && keepCanonical) {
      // canonical-only exact dedup: one shuffle, no join, fingerprint
      // computed once — groupBy(fp) → min_by(whole row, id)
      val cols = df.columns.toSeq
      val kept = df
        .groupBy(fingerprint(col(textField)).as("__fp"))
        .agg(min_by(struct(cols.map(col): _*), col(idField)).as("__keep"))
        .select(cols.map(c => col(s"__keep.$c")): _*)
      return TransformCommon.finishRouted(kept, cfg)
    }

    val out = method match {
      case "exact" => exact(df, textField, idField)
      case "minhash" | "simhash" =>
        lshDedup(df, idField, bandRows(method, p, md5Mode,
          textRows(df, textField, idField), Seq("__id")),
          transitive, maxIter)
      case "ngram" =>
        ngramDedup(df, textField, idField, p, md5Mode,
          transitive = transitive, maxIter = maxIter)
      case "winnow" =>
        if (p.str("action").contains("index")) {
          // persistable fingerprint INDEX: one (id, fingerprint) row
          // per selected hash. Build once over a reference corpus,
          // write to storage, and feed back as `referenceInput` with
          // `referenceIsIndex: true` — incremental dedup of each new
          // crawl then never re-fingerprints the (much larger)
          // reference side, the 100 TB shape where the index is
          // ~2/(window+1) of the gram volume and the corpus text
          // never moves again
          val fpField = p.str("fingerprintField")
            .getOrElse("fingerprint")
          val slim = df.select(col(idField).as("__id"),
            col(textField).as("__t"))
            .filter(col("__t").isNotNull)
          val out = winnowFps(slim,
            p.int("ngramSize").getOrElse(4),
            p.int("window").getOrElse(8),
            md5Mode,
            p.str("seed").getOrElse("0"))
            .select(col("__id").as(idField),
              explode_outer(col("__fps")).as(fpField))
            .filter(col(fpField).isNotNull)
          return TransformCommon.finishRouted(out, cfg)
        }
        winnowDedup(df, textField, idField,
          k = p.int("ngramSize").getOrElse(4),
          w = p.int("window").getOrElse(8),
          threshold = p.dbl("threshold").getOrElse(0.5),
          maxBucket = p.int("maxBucket").getOrElse(64),
          md5Mode = md5Mode,
          seed = p.str("seed").getOrElse("0"),
          transitive = transitive, maxIter = maxIter)
      case "embedding" =>
        embeddingDedup(df, p.str("field").getOrElse("embedding"),
          idField, hyperplane(p, md5Mode),
          p.dbl("threshold").getOrElse(0.95), transitive, maxIter)
      case "semdedup" =>
        val embField = p.str("field").getOrElse("embedding")
        val threshold = p.dbl("threshold").getOrElse(0.9)
        val codebookIds = p.arrOf("codebookIds").map(_.asLong)
        // external codebook (ids whose vectors become the centroids,
        // in order) makes the clustering deterministic and
        // SQL-replayable — the oracled path, same contract as
        // similarity ivf codebookIds. Default: Lloyd auto-fit over a
        // deterministic sample (SimilarityTransform.fitCentroids).
        val centroids =
          if (codebookIds.nonEmpty)
            SimilarityTransform.codebookFromIds(df, embField, idField,
              codebookIds)
          else SimilarityTransform.fitCentroids(df, embField,
            p.int("centroids").getOrElse(16),
            p.int("fitIterations").getOrElse(2))
        semDedup(df, embField, idField, centroids, threshold,
          repPolicy = p.str("repPolicy").getOrElse("centroidFar"),
          transitive, maxIter)
      case "lines" =>
        // CCNet/RefinedWeb-style boilerplate strip: remove every line
        // whose corpus-wide frequency reaches minCount
        val out = lineDedup(df, textField, idField,
          minCount = p.int("minCount").getOrElse(2))
        return TransformCommon.finishRouted(out, cfg)
      case "spans" | "substring" =>
        // duplicated-substring filtering (Lee et al. 2021): flag docs
        // whose text is mostly spans that also occur in other docs
        val out = spanDedup(df, textField, idField,
          spanTokens = p.int("spanTokens").getOrElse(20),
          stride = p.int("stride").getOrElse(1),
          minCount = p.int("minCount").getOrElse(2),
          maxDupFraction = p.dbl("maxDupFraction").getOrElse(0.5),
          remove = p.str("action").contains("remove"))
        return TransformCommon.finishRouted(out, cfg)
      case "decontaminate" =>
        // benchmark decontamination: needs the benchmark collection as
        // a second input (or an explicit benchmarkInput name)
        val benchName = p.str("benchmarkInput")
          .orElse(cfg.inputs.drop(1).headOption)
          .getOrElse(throw new IllegalArgumentException(
            "dedup decontaminate requires a second input " +
              "(the benchmark collection) or a benchmarkInput parameter"))
        val bench = inputs.getOrElse(benchName,
          throw new IllegalArgumentException(
            s"dedup decontaminate: unknown benchmark input '$benchName'"))
        val action = p.str("action").getOrElse("flag")
        require(Set("flag", "remove", "report")(action),
          s"dedup decontaminate action: $action (valid: flag, " +
            "remove, report)")
        val out = decontaminate(df, bench, textField,
          p.str("benchmarkField").getOrElse(textField), idField,
          n = p.int("ngramSize").getOrElse(8),
          action = action,
          broadcastLimit = p.int("broadcastThreshold").getOrElse(2000000),
          bloomFpp = p.dbl("bloomFpp").getOrElse(0.01))
        return TransformCommon.finishRouted(out, cfg)
      case "verdicts" =>
        // doc-level verdicts over DRAINED streaming near-dedup
        // candidate rows. Streaming minhash/simhash/ngram/embedding
        // emit per-BAND candidate rows (Spark cannot chain a second
        // stateful aggregate after flatMapGroupsWithState in append
        // mode), so the per-doc reduce — min __dup_of over a doc's
        // candidate rows, the same min-over-buckets batch lshDedup
        // applies — runs here as a batch mode over the drained
        // output. The reduce also absorbs the candidates' multiset
        // nature (cross-batch re-emissions collapse under min).
        //
        //  - primary input: candidate rows (idField + dupField).
        //  - `corpusInput` (or a second input): left-join the
        //    verdicts back onto the corpus — null __dup_of marks
        //    canonical docs, reproducing the batch dedup output
        //    shape; `keep: canonical` then drops flagged rows (the
        //    anti-join composition).
        //  - `transitive: true`: resolve chains A~B, B~C to the
        //    component minimum over the candidate pair graph (the
        //    closure streaming emission cannot do incrementally).
        //
        // Scale: the reduce moves only (id, dup_of) pairs with
        // map-side partial aggregation; the corpus join is left to
        // AQE (broadcast when the verdict set is small).
        val dupField = p.str("dupField").getOrElse("__dup_of")
        require(df.columns.contains(dupField),
          s"dedup ${cfg.name}: verdicts input has no '$dupField' " +
            "column — point dupField at the drained candidates' " +
            "owner-id column")
        val corpusName = p.str("corpusInput")
          .orElse(cfg.inputs.drop(1).headOption)
        corpusName match {
          case None =>
            require(p.str("keep").isEmpty,
              s"dedup ${cfg.name}: verdicts keep needs a " +
                "corpusInput (the collection to filter); without " +
                "one the output is the verdict rows themselves")
            // `idType` restores the ORIGINAL id type when there is
            // no corpus to infer it from: a drained stream surfaces
            // ids as strings, where min is lexicographic ("10" <
            // "9") — wrong for numeric ids, though exactly batch
            // semantics for genuinely-string ids, so the un-cast
            // default stays valid for those
            val cast: Column => Column = p.str("idType") match {
              case Some(t) =>
                val dt = graft.schema.SchemaMapper
                  .baseType(t, graft.config.Json.obj())
                verdictCast(cfg.name, dt, t)
              case None =>
                // lexicographic-min tripwire: numeric ids surfaced
                // as strings order "10" < "9", silently electing the
                // wrong canonical owner. A bounded probe (100 ids —
                // a heuristic, not a scan; an eager build-time job)
                // that finds ONLY numeric strings almost certainly
                // means the user forgot idType; warn loudly with the
                // fix named
                if (log.isWarnEnabled && allNumericProbe(df, idField))
                  log.warn(s"dedup ${cfg.name}: verdicts ids all " +
                    "look numeric but no idType is set — min over " +
                    "STRING ids is lexicographic ('10' < '9'), " +
                    "which elects the wrong canonical owner for " +
                    "numeric ids; set idType (e.g. int64) or " +
                    "corpusInput to restore numeric ordering")
                identity
            }
            val v = verdictsOf(df.select(cast(col(idField)).as("__id"),
              cast(col(dupField)).as("__rep_id")), transitive, maxIter)
            return TransformCommon.finishRouted(
              v.select(col("__id").as(idField), col("__dup_of")), cfg)
          case Some(cn) =>
            val corpus = inputs.getOrElse(cn,
              throw new IllegalArgumentException(
                s"dedup ${cfg.name}: unknown corpusInput '$cn' " +
                  s"(inputs: ${cfg.inputs.mkString(", ")})"))
            require(!corpus.isStreaming,
              s"dedup ${cfg.name}: verdicts corpusInput must be a " +
                "bounded (batch) collection — read the corpus from " +
                "storage, not as a stream")
            val cid = p.str("corpusIdField").getOrElse(idField)
            require(corpus.columns.contains(cid),
              s"dedup ${cfg.name}: corpusInput '$cn' has no " +
                s"'$cid' column (set corpusIdField)")
            // streaming candidates surface ids as STRINGS (one
            // fixed state schema for any id type); cast both id
            // columns back to the corpus id type so the min and
            // the join are typed like the batch path
            val idType = corpus.schema(cid).dataType
            val cast = verdictCast(cfg.name, idType,
              idType.simpleString)
            joinVerdicts(corpus, cid, verdictsOf(df.select(
              cast(col(idField)).as("__id"),
              cast(col(dupField)).as("__rep_id")), transitive, maxIter))
        }
      case other =>
        throw new IllegalArgumentException(s"dedup method: $other")
    }
    val kept = p.str("keep") match {
      case Some("canonical") | Some("first") =>
        out.filter(col("__dup_of").isNull).drop("__dup_of")
      case _ => out
    }
    TransformCommon.finishRouted(kept, cfg)
  }

  /** Cross-corpus dedup: flag rows of the PRIMARY input whose content
    * near-duplicates any row of a REFERENCE corpus — the
    * dedup-new-data-against-the-training-set step of an incremental
    * pipeline. `__dup_of` = the smallest matching reference id (null
    * when the row is novel); `keep: canonical` drops matched rows.
    *
    * Same LSH machinery as self-dedup, but candidate pairs come from
    * an equi-join of the two sides' band buckets instead of a
    * within-bucket window: both sides shuffle only narrow band rows
    * (id + 2 hash longs), the per-primary-id min reference id is a
    * map-side-combined aggregate, and the corpus rows themselves
    * never move — the 100 TB shape is two band-key shuffles plus an
    * AQE-planned join, independent of document width.
    *
    * Methods: exact (fingerprint equi-join), minhash / simhash (band
    * bucket join — same sim^r per-band precision as self-dedup),
    * embedding (hyperplane bucket join + cosine verify >= threshold).
    * `referenceField` / `referenceIdField` override the content / id
    * columns on the reference side when its schema differs.
    * `transitive` is rejected: reference matching is one-directional,
    * so there is no pair graph to close over. */
  private def crossCorpus(cfg: ModuleCfg,
      inputs: Map[String, DataFrame], refName: String,
      method: String, md5Mode: Boolean): Map[String, DataFrame] = {
    import graft.config.Json._
    val p = cfg.params
    require(inputs.contains(refName),
      s"dedup: referenceInput '$refName' is not among inputs " +
        cfg.inputs.mkString("[", ", ", "]"))
    val primaryNames = cfg.inputs.filterNot(_ == refName)
    require(primaryNames.size == 1,
      "dedup: referenceInput mode takes exactly two inputs (the " +
        s"primary corpus and '$refName'); got ${cfg.inputs.size}")
    require(!p.bool("transitive").getOrElse(false),
      "dedup: transitive closure does not apply to referenceInput " +
        "mode — matching against a fixed reference is one-directional")
    val praw = inputs(primaryNames.head)
    val rraw = inputs(refName)
    require(!praw.isStreaming && !rraw.isStreaming,
      "dedup referenceInput mode requires bounded (batch) inputs: " +
        "stage the stream to storage first, or use method: " +
        "decontaminate for stream-against-static n-gram matching")
    val textField = p.str("field").getOrElse("text")
    val idField = p.str("idField").getOrElse(praw.columns.head)
    val refTextField = p.str("referenceField").getOrElse(textField)
    val refIdField = p.str("referenceIdField").getOrElse(idField)
    // see build(): widen per-row signature work; exact's one
    // fingerprint per row is cheaper than the exchange
    val primary = if (method == "exact") praw
      else TransformCommon.widen(praw)
    val ref = if (method == "exact") rraw else TransformCommon.widen(rraw)

    def bands(df: DataFrame, tf: String, id: String) =
      bandRows(method, p, md5Mode, textRows(df, tf, id), Seq("__id"))

    val dupMap: DataFrame = method match {
      case "exact" =>
        // narrow (fingerprint, min_id) aggregate on the reference —
        // partially aggregated map-side and broadcast-joinable
        val refMin = ref
          .select(fingerprint(col(refTextField)).as("__fp"),
            col(refIdField).as("__rid"))
          .groupBy("__fp").agg(min("__rid").as("__dup_of"))
        primary.select(col(idField).as("__id"),
          fingerprint(col(textField)).as("__fp"))
          .join(refMin, "__fp").select("__id", "__dup_of")
      case "minhash" | "simhash" =>
        bands(primary, textField, idField).join(
          bands(ref, refTextField, refIdField)
            .withColumnRenamed("__id", "__rid"),
          Seq("__band_idx", "__band_hash"))
          .groupBy("__id").agg(min("__rid").as("__dup_of"))
      case "embedding" =>
        val threshold = p.dbl("threshold").getOrElse(0.95)
        val bucket = hyperplane(p, md5Mode)
        def buckets(df: DataFrame, ef: String, id: String) =
          // null emb: no bucket — filtered on the cheap embedding
          // column (null bucket ⇔ null emb) so the projection UDF is
          // not inlined into a pushed null check
          df.filter(col(ef).isNotNull)
            .select(col(id).as("__id"), col(ef).as("__e"))
            .withColumn("__bucket", bucket(col("__e")))
        val ef = p.str("field").getOrElse("embedding")
        val pb = buckets(primary, ef, idField)
        val rb = buckets(ref, p.str("referenceField").getOrElse(ef),
          refIdField)
        pb.join(rb.select(col("__bucket"), col("__id").as("__rid"),
            col("__e").as("__re")), Seq("__bucket"))
          .filter(cosine(col("__e"), col("__re")) >= threshold)
          .groupBy("__id").agg(min("__rid").as("__dup_of"))
      case "winnow" =>
        // shared-fingerprint candidates across the two corpora, then
        // exact fingerprint-set Jaccard — the winnow guarantee holds
        // cross-corpus too: a >= window+ngram−1 token run shared with
        // any reference doc always produces a candidate. Shapes match
        // self-dedup: (fingerprint, id) rows join ids-only, and the
        // full fingerprint sets re-attach only for candidate members.
        val k = p.int("ngramSize").getOrElse(4)
        val w = p.int("window").getOrElse(8)
        val threshold = p.dbl("threshold").getOrElse(0.5)
        val maxBucket = p.int("maxBucket").getOrElse(64)
        require(maxBucket >= 2, // see winnowDedup
          s"dedup winnow: maxBucket must be >= 2, got $maxBucket")
        val seed = p.str("seed").getOrElse("0")
        def slim(df: DataFrame, tf: String, id: String) =
          df.select(col(id).as("__id"), col(tf).as("__t"))
            .filter(col("__t").isNotNull)
        val pSlim = slim(primary, textField, idField)
        // lazy: an index-mode reference has no text column to select
        lazy val rSlim = slim(ref, refTextField, refIdField)
        // explode_outer + post-filter, NOT explode: see winnowDedup —
        // the inner explode's inferred size() filter inlines the
        // whole nested-HOF fingerprint tree and re-evaluates it per
        // element
        require(!p.str("action").contains("index"),
          "dedup winnow: action: index builds a fingerprint index " +
            "from ONE input — drop referenceInput (build the index " +
            "in its own transform, then feed it back with " +
            "referenceIsIndex: true)")
        // `referenceIsIndex: true`: the reference input is a
        // PREBUILT fingerprint index (`action: index` output — one
        // (id, fingerprint) row per selected hash) instead of raw
        // text; the reference corpus is then never re-fingerprinted
        val refIsIndex = p.bool("referenceIsIndex").getOrElse(false)
        val fpField = p.str("fingerprintField").getOrElse("fingerprint")
        if (refIsIndex) {
          require(ref.columns.contains(fpField) &&
            ref.columns.contains(refIdField),
            s"dedup winnow referenceIsIndex: reference input needs " +
              s"$refIdField and $fpField columns (an action: index " +
              "output); set referenceIdField/fingerprintField if " +
              "named differently")
          // hash-mode mismatch is detectable from the column type and
          // would otherwise silently report every doc as novel (the
          // cross join finds no equal fingerprints)
          val fpType = ref.schema(fpField).dataType
          val want: DataType = if (md5Mode) StringType else LongType
          require(fpType == want,
            s"dedup winnow referenceIsIndex: $fpField is " +
              s"${fpType.simpleString} but hashAlgo " +
              s"${if (md5Mode) "md5" else "default (xxhash64)"} " +
              s"fingerprints are ${want.simpleString} — build and " +
              "consume the index with the SAME hashAlgo (ngramSize/" +
              "window/seed must also match; those are not checkable " +
              "from the data)")
        }
        val rFe =
          if (refIsIndex)
            // distinct: an appended/unioned index write would double
            // rows, inflate bucket counts, and spuriously cap real
            // buckets out of candidate generation
            ref.select(col(fpField).as("__fp"),
              col(refIdField).as("__rid"))
              .filter(col("__fp").isNotNull && col("__rid").isNotNull)
              .distinct()
          else winnowFps(rSlim, k, w, md5Mode, seed)
            .select(explode_outer(col("__fps")).as("__fp"),
              col("__id").as("__rid"))
            .filter(col("__fp").isNotNull)
        val pFe = winnowFps(pSlim, k, w, md5Mode, seed)
          .select(col("__id"), explode_outer(col("__fps")).as("__fp"))
          .filter(col("__fp").isNotNull)
        // per-fingerprint stats on each side (map-side partial aggs);
        // only fingerprints BOTH sides share can pair, so the meta
        // join prunes everything else before any id rows move
        val meta = pFe.select("__fp").distinct()
          .join(rFe.groupBy("__fp")
            .agg(count(lit(1)).as("__rc"), min(col("__rid")).as("__rmin")),
            Seq("__fp"))
          .transform(graft.ops.CacheTracker.trackPersist)
        // over-cap fallback (see winnowDedup), gated on the REFERENCE
        // side only:
        //  - bounded reference bucket (__rc <= cap): pair every
        //    primary member against the full reference member list —
        //    however hot the primary side is, that stays linear in
        //    the primary count, and no reference candidate is
        //    silently dropped just because the primary replicated
        //    (q140 pins this with a hot-primary fixture);
        //  - REFERENCE side hot (__rc > cap): min-rep — pair each
        //    primary member with the bucket's MINIMUM reference id,
        //    so a reference corpus of a million identical
        //    boilerplate pages cannot make the cross join quadratic,
        //    yet a new doc duplicating heavily-replicated reference
        //    content still surfaces as a candidate
        val smallFp = meta.filter(col("__rc") <= maxBucket)
          .select("__fp")
        val candSmall = pFe.join(smallFp, Seq("__fp"), "left_semi")
          .join(rFe.join(smallFp, Seq("__fp"), "left_semi"), Seq("__fp"))
          .select("__id", "__rid")
        val candOver = pFe.join(meta
            .filter(col("__rc") > maxBucket)
            .select(col("__fp"), col("__rmin")), Seq("__fp"))
          .select(col("__id"), col("__rmin").as("__rid"))
        val cand = candSmall.union(candOver).distinct()
          .transform(graft.ops.CacheTracker.trackPersist)
        val pFps = winnowFps(pSlim.join(cand.select("__id").distinct(),
            Seq("__id"), "left_semi"), k, w, md5Mode, seed)
        // verify sets for candidate reference docs: recomputed from
        // text in raw mode, collected from the (already-distinct)
        // index rows in index mode
        val rFps =
          if (refIsIndex)
            rFe.join(cand.select("__rid").distinct(), Seq("__rid"),
                "left_semi")
              .groupBy(col("__rid"))
              .agg(collect_set(col("__fp")).as("__fps"))
              .select(col("__rid").as("__id"), col("__fps"))
          else winnowFps(rSlim.join(cand
                .select(col("__rid").as("__id")).distinct(),
              Seq("__id"), "left_semi"), k, w, md5Mode, seed)
        cand
          .join(pFps.select(col("__id"), col("__fps").as("__f")),
            "__id")
          .join(rFps.select(col("__id").as("__rid"),
            col("__fps").as("__f_ref")), "__rid")
          .filter(jaccardDistinct(col("__f"), col("__f_ref")) >=
            threshold)
          .groupBy("__id").agg(min("__rid").as("__dup_of"))
      case other => throw new IllegalArgumentException(
        "dedup referenceInput mode supports methods " +
          s"exact/minhash/simhash/embedding/winnow, got '$other'")
    }
    val out = joinVerdicts(primary, idField, dupMap)
    val kept = p.str("keep") match {
      case Some("canonical") | Some("first") =>
        out.filter(col("__dup_of").isNull).drop("__dup_of")
      case _ => out
    }
    TransformCommon.finishRouted(kept, cfg)
  }

  /** Exact dedup: min id per normalized-content hash. groupBy + join
    * back rather than a Window: the aggregate side is only
    * (fingerprint, min_id) — partially aggregated map-side and
    * broadcast-joinable — where a Window would shuffle AND sort every
    * full-width row. */
  def exact(df: DataFrame, textField: String, idField: String): DataFrame = {
    val withFp = df.withColumn("__fp", fingerprint(col(textField)))
    val minIds = withFp.groupBy("__fp")
      .agg(min(col(idField)).as("__min_id"))
    withFp.join(minIds, "__fp")
      .withColumn("__dup_of",
        when(col(idField) =!= col("__min_id"), col("__min_id")))
      .drop("__fp", "__min_id")
  }

  /** A text method's signature input: (`__id`, `__t`) with null text
    * dropped. A null text gets a null signature, and the band
    * expression maps every null signature to the same constant key
    * (md5("") / hash(null, b)), which would flag them all duplicates
    * of each other. The filter sits on the CHEAP text column, not the
    * signature: a filter on the UDF output gets pushed below the
    * projection with the UDF inlined, running the signature pass
    * TWICE per row (null sig ⇔ null text, so these agree). */
  private def textRows(df: DataFrame, textField: String,
      idField: String): DataFrame =
    df.filter(col(textField).isNotNull)
      .select(col(idField).as("__id"), col(textField).as("__t"))

  /** Band rows of the minhash / simhash / ngram signature — the one
    * definition self-dedup, referenceInput and streaming share: `in`'s
    * `keep` columns plus (`__band_idx`, `__band_hash`) per band of the
    * signature of its `__t` text.
    *
    *  - `minhash`: word-shingle MinHash. Default m=32, bands=8 keeps
    *    r=4 rows per band (the same per-band precision sim^4 as 64/16)
    *    at half the signature compute; detection prob for sim 0.9 is
    *    still 1-(1-0.9^4)^8 ≈ 0.9998.
    *  - `simhash`: 64-bit SimHash cut into Hamming-LSH bands.
    *  - `ngram`: char-n-gram MinHash at a fixed m=32, bands=8: r=4
    *    gives ~99% recall at sim 0.8 while keeping the false-candidate
    *    rate ~50x below r=2 banding (r=2 at sf0.1 produced 64k
    *    candidate pairs from 5k docs and verification dominated).
    *
    * Signatures come from the one-pass tight-loop UDFs in
    * TextFunctions (doc → signature with zero shuffle), and are a real
    * attribute by the time the band lambda reads them, so the lambda
    * never recomputes one. */
  private def bandRows(method: String,
      p: com.fasterxml.jackson.databind.JsonNode, md5Mode: Boolean,
      in: DataFrame, keep: Seq[String]): DataFrame = {
    def minhash(k: Int, m: Int, bands: Int, charGrams: Boolean) = (
      (if (md5Mode) minhashSigMd5Udf(k, m, charGrams)
        else minhashSigUdf(k, m, charGrams))(col("__t")),
      (sig: Column) =>
        if (md5Mode) lshBandsMd5(sig, m, bands) else lshBands(sig, m, bands))
    val (sig, bandsOf) = method match {
      case "minhash" => minhash(p.int("shingleSize").getOrElse(3),
        p.int("numPermutations").getOrElse(32),
        p.int("bands").getOrElse(8), charGrams = false)
      case "ngram" =>
        minhash(p.int("ngramSize").getOrElse(5), 32, 8, charGrams = true)
      case _ => // simhash
        val bands = p.int("bands").getOrElse(4)
        ((if (md5Mode) simhashMd5Udf else simhashUdf)(col("__t")),
          (sh: Column) => if (md5Mode) simhashBandsMd5(sh, bands)
            else simhashBands(sh, bands))
    }
    val kept = keep.map(col)
    in.select(kept :+ sig.as("__sig"): _*)
      .select(kept :+ posexplode(bandsOf(col("__sig")))
        .as(Seq("__band_idx", "__band_hash")): _*)
  }

  /** The hyperplane bucket of an embedding column (`dim`, `planes`) —
    * the one definition self-dedup, referenceInput and streaming
    * share. */
  private def hyperplane(p: com.fasterxml.jackson.databind.JsonNode,
      md5Mode: Boolean): Column => Column = {
    val dim = p.int("dim").getOrElse(64)
    val planes = p.int("planes").getOrElse(12)
    e => if (md5Mode) hyperplaneBucketMd5(e, dim, planes)
      else hyperplaneBucket(e, dim, planes, seed = 42L)
  }

  /** Streaming near-dedup for minhash, simhash, ngram, winnow and
    * embedding: the batch near-dedup semantics adapted to an unbounded
    * ingest (the reference has no streaming analogue; this is the
    * 100 TB crawl-intake shape — flag arrivals near-duplicating
    * anything seen within the horizon without ever re-scanning the
    * corpus). Each method only maps a doc to its bucket rows and,
    * optionally, a verify; [[bucketOwners]] is the one state machine.
    *
    *  - minhash / simhash: one row per band ([[bandRows]] — the text
    *    never shuffles), no verify: (`idField`, `__band_idx`,
    *    `__dup_of`).
    *  - ngram: the char-gram banding plus an EXACT Jaccard verify of
    *    distinct code-point n-gram sets of the lowercased text — the
    *    batch verify arithmetic — against the owner's text riding in
    *    state: (`idField`, `__band_idx`, `__dup_of`, `__jaccard`).
    *  - winnow: every fingerprint ([[winnowFps]], the batch Column
    *    program, so both modes agree bit-identically on what a
    *    fingerprint is) is a bucket, verified by Jaccard over the
    *    distinct fingerprint sets: (`idField`, `__fp`, `__dup_of`,
    *    `__jaccard`).
    *  - embedding: one hyperplane bucket per vector, cosine verify
    *    against the owner's embedding with the batch verify's
    *    index-ordered double loop, so thresholds agree bit-identically:
    *    (`idField`, `__dup_of`, `__cosine`).
    *
    * The doc-level verdict is the min over a doc's candidate rows at
    * read time (dedup `method: verdicts`; Spark cannot chain a second
    * stateful aggregate after flatMapGroupsWithState in append mode),
    * matching batch LSH's min-over-buckets. A sub-threshold collision
    * emits nothing and never replaces the owner (min-rep semantics —
    * the batch paths also verify each member against the bucket
    * minimum only), so drained over time-ordered arrivals with the
    * horizon covering the run, the candidates equal the batch
    * verified pairs (md5 mode replays in SQL — the q179 and q127
    * oracles).
    *
    * Bucket state carries what the verify needs of the owner: nothing
    * (LSH), its text (ngram), its fingerprint set (winnow) or its
    * embedding. Two caps bound it for long docs — each applies to BOTH
    * sides of the verify while banding still sees the whole doc, a
    * documented precision trade (default off = exact batch parity):
    * `maxVerifyChars` clips ngram text (100 KB docs × 8 bands would
    * hold 8× the doc text in state) and `maxVerifyFps` keeps winnow's
    * first N fingerprints, a positional document prefix (a doc with F
    * fingerprints owns up to F buckets, each storing — and each
    * exploded row shipping — its full set: O(F²) strings uncapped).
    * Gram sets are recomputed at verify time: text is ~n× smaller
    * than its gram set.
    *
    * Ids surface as strings (one fixed state/output schema for any id
    * type); downstream casts restore the original type. */
  private def streamingNearDedup(raw: DataFrame, cfg: ModuleCfg,
      method: String,
      contract: (com.fasterxml.jackson.databind.JsonNode, String),
      md5Mode: Boolean): DataFrame = {
    val p = cfg.params
    val (strategy, ts) = contract // validated once in build()
    val field = p.str("field")
      .getOrElse(if (method == "embedding") "embedding" else "text")
    val idField = p.str("idField").getOrElse(raw.columns.head)
    // (`__id`, `__ts`, `__t` = the text or embedding); the watermark
    // tag travels with the aliased event-time attribute — NOT re-cast:
    // applyWatermark already guarantees TimestampType, and a
    // Cast-wrapped alias drops the watermark metadata the event-time
    // timeout requires
    val docs = graft.streaming.Strategy.applyWatermark(raw, strategy, ts)
      .filter(col(field).isNotNull) // never a candidate, as in batch
      // null event time: skipped — withWatermark does NOT drop null-ts
      // rows, and the horizon arithmetic (getTimestamp.getTime) has no
      // meaningful ordering for them; an unguarded null would NPE
      // inside flatMapGroupsWithState and kill the query
      .filter(col(ts).isNotNull)
      // the per-row signature/fingerprint program runs in the stage
      // BEFORE the state shuffle, whose parallelism is the SOURCE's
      // partitioning (a file stream staging a handful of files per
      // batch = a handful of tasks, regardless of cores or shuffle
      // partitions). Widening the watermarked batch to cluster
      // parallelism sizes signature compute to cores, whatever the
      // state shuffle's width (r22 matrix on q183 at 8 state
      // partitions: 4.1 s unwidened, 3.2 s widened)
      .repartition(raw.sparkSession.sparkContext.defaultParallelism)
      .select(col(idField).cast(StringType).as("__id"), col(ts).as("__ts"),
        col(field).as("__t"))
    val id = StructField(idField, StringType)
    val dupOf = StructField("__dup_of", StringType)
    val band = StructField("__band_idx", IntegerType)
    val jaccardF = StructField("__jaccard", DoubleType)
    // band rows keyed by (band idx, band hash), \u0001-separated: no
    // hash rendering (md5 hex / decimal) contains it, and an
    // unseparated idx=1,hash="23" would collide with idx=12,hash="3"
    def banded(keep: Seq[String]) =
      bandRows(method, p, md5Mode, docs, Seq("__id", "__ts") ++ keep)
        .select(Seq(concat_ws("\u0001", col("__band_idx").cast(StringType),
            col("__band_hash").cast(StringType)).as("__key"),
          col("__id"), col("__ts"),
          col("__band_idx").cast(IntegerType).as("__tag")) ++
          keep.map(col): _*)
    method match {
      case "minhash" | "simhash" =>
        bucketOwners[Null, Null](banded(Nil),
          StructType(Seq(id, band, dupOf)), _ => null, identity, None, 0.0)
      case "ngram" =>
        val n = p.int("ngramSize").getOrElse(5)
        val cap = p.int("maxVerifyChars").getOrElse(0)
        require(cap >= 0,
          s"dedup ${cfg.name}: maxVerifyChars must be >= 0, got $cap")
        bucketOwners[String, Set[String]](banded(Seq("__t")),
          StructType(Seq(id, band, dupOf, jaccardF)),
          r => {
            val t = r.getString(4)
            if (cap > 0 && t.length > cap) t.substring(0, cap) else t
          },
          t => codePointGrams(t.toLowerCase(java.util.Locale.ROOT), n).toSet,
          Some(jaccard), p.dbl("threshold").getOrElse(0.8))
      case "winnow" =>
        val cap = p.int("maxVerifyFps").getOrElse(0)
        require(cap >= 0,
          s"dedup ${cfg.name}: maxVerifyFps must be >= 0, got $cap")
        val fps = winnowFps(docs, p.int("ngramSize").getOrElse(4),
            p.int("window").getOrElse(8), md5Mode,
            p.str("seed").getOrElse("0"), keep = Seq("__ts"))
          // one stringified fingerprint domain for key AND state: md5
          // mode is already hex strings; xxhash64 longs render decimal.
          // Only identity matters to the key and the set-Jaccard, and
          // both renderings are injective
          .withColumn("__fall", col("__fps").cast(ArrayType(StringType)))
          // explode_outer + post-filter: see winnowDedup
          .select(col("__id"), col("__ts"),
            (if (cap > 0) slice(col("__fall"), 1, cap) else col("__fall"))
              .as("__fset"),
            explode_outer(col("__fall")).as("__fp"))
          .filter(col("__fp").isNotNull)
        bucketOwners[Seq[String], Set[String]](
          fps.select(col("__fp").as("__key"), col("__id"), col("__ts"),
            col("__fp").as("__tag"), col("__fset")),
          StructType(Seq(id, StructField("__fp", StringType), dupOf,
            jaccardF)),
          _.getSeq[String](4), _.toSet, Some(jaccard),
          p.dbl("threshold").getOrElse(0.5))
      case _ => // embedding
        val bucket = hyperplane(p, md5Mode)
        // cast to array<float> explicitly: the batch path accepts an
        // array<double> embedding through ImplicitCastInputTypes on the
        // bucket/cosine expressions, but the typed state read
        // (getSeq[Float]) would ClassCastException — the same pipeline
        // must accept the same column types batch or streamed
        val emb = col("__t").cast(ArrayType(FloatType))
        bucketOwners[Array[Float], Array[Float]](
          docs.select(bucket(emb).cast(StringType).as("__key"),
            col("__id"), col("__ts"), emb.as("__emb")),
          StructType(Seq(id, dupOf, StructField("__cosine", DoubleType))),
          _.getSeq[Float](3).toArray, identity, Some(cosineSim),
          p.dbl("threshold").getOrElse(0.95))
    }
  }

  /** The bucket-owner state machine under every streaming near-dedup
    * method. `rows` = (`__key`, `__id`, `__ts`, `__tag`?, payload?):
    * one row per (doc, bucket); `__tag`, when present, is copied into
    * the candidate row after the id.
    *
    * Per bucket, state = (owner id, newest-member event time, owner
    * `payload`). The owner is the bucket's first-seen doc, first by
    * event time then id within a micro-batch (the documented §7.4.2
    * in-batch ordering approximation). Each later member emits one
    * candidate row (id, tag?, owner id, score?) — with a `score`, only
    * at or above `threshold`, computed on `prepare`d payloads (the
    * owner's once per batch, not once per arrival).
    *
    * State lifetime: a bucket times out once the watermark passes its
    * NEWEST member's event time — the sliding-horizon semantic (total
    * state is bounded by live buckets within `allowedLateness` × rate,
    * never by stream lifetime). A re-occurrence after the horizon
    * legitimately becomes the new owner, exactly like streaming exact
    * dedup's re-emission rule. */
  private def bucketOwners[P, V](rows: DataFrame, out: StructType,
      payload: org.apache.spark.sql.Row => P, prepare: P => V,
      score: Option[(V, V) => Double], threshold: Double): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val tagged = rows.columns.contains("__tag")
    implicit val outEnc: ExpressionEncoder[Row] =
      ExpressionEncoder(RowEncoder.encoderFor(out))
    implicit val stateEnc = Encoders.kryo[(String, Long, P)]
    rows.groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState[(String, Long, P), Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, members, state: GroupState[(String, Long, P)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // first-seen = (event time, id) order within the batch;
            // string id order only breaks exact-timestamp ties
            val sorted = members.toSeq.sortBy(r =>
              (r.getTimestamp(2).getTime, r.getString(1)))
            // the horizon must track the bucket's NEWEST member across
            // batches — seeding it from the owner's own arrival time
            // would let a later in-horizon LATE member rewind the
            // timeout below an earlier member's time and expire the
            // bucket inside its documented horizon
            var owner = state.getOption
            var maxTs = owner.map(_._2).getOrElse(Long.MinValue)
            var ownerPrepared: Option[V] = None
            val emit = Seq.newBuilder[Row]
            // a doc duplicated WITHIN one micro-batch emits one
            // candidate row, not one per arrival; a re-arrival in a
            // LATER batch inside the horizon still re-emits (the
            // operator has no memory of past emissions — drained
            // candidates are a multiset across batches; reduce with
            // dedup method: verdicts, or DISTINCT, downstream)
            val emitted = scala.collection.mutable.HashSet[String]()
            sorted.foreach { r =>
              val id = r.getString(1)
              val t = r.getTimestamp(2).getTime
              if (t > maxTs) maxTs = t
              owner match {
                case None => owner = Some((id, t, payload(r)))
                case Some((oid, _, op)) if oid != id =>
                  val s = score.map { f =>
                    if (ownerPrepared.isEmpty)
                      ownerPrepared = Some(prepare(op))
                    f(prepare(payload(r)), ownerPrepared.get)
                  }
                  if (s.forall(_ >= threshold) && emitted.add(id))
                    emit += Row.fromSeq(
                      (id +: (if (tagged) Seq(r.get(3)) else Nil)) ++
                        (oid +: s.toSeq))
                case _ => () // the owner doc re-arriving: not a dup
              }
            }
            state.update((owner.get._1, maxTs, owner.get._3))
            // expire once the watermark passes the newest member
            // (+1ms guard: Spark rejects a timeout at-or-before the
            // current watermark)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1L))
            emit.result().iterator
          }
      }.toDF()
  }

  /** Jaccard of two distinct sets — the batch verify arithmetic,
    * |a∩b|/(|a|+|b|−|a∩b|). */
  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Index-ordered double cosine — the SAME loop as the batch
    * verify's `cosine` expression and the SQL replay's
    * sum-of-products arithmetic (no epsilon), so a threshold compare
    * agrees bit-identically across all three. */
  private def cosineSim(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Bounded all-numeric heuristic for the verdicts lexicographic-min
    * warning: 100 ids, not a scan — a false negative just skips the
    * warning, and a genuinely-string corpus rarely has a 100-id
    * all-numeric prefix. */
  private[graft] def allNumericProbe(df: DataFrame,
      idField: String): Boolean = {
    val probe = df.select(col(idField).cast("string"))
      .filter(col(idField).isNotNull).limit(100).collect()
    probe.nonEmpty && probe.forall(_.getString(0).matches("-?\\d+"))
  }

  /** verdicts id cast with a parse tripwire: the engine's lenient
    * (non-ANSI) cast nulls out an unparseable id, which would
    * silently drop that doc's verdict or group it under a null key
    * — on a billion drained rows an invisible corruption. A value
    * that nulls under the cast while non-null raises with the
    * offending value named. */
  private def verdictCast(name: String,
      dt: org.apache.spark.sql.types.DataType,
      tName: String): Column => Column =
    c => when(c.isNotNull && c.cast(dt).isNull,
        raise_error(concat(
          lit(s"dedup $name: candidate id '"), c.cast(StringType),
          lit(s"' does not parse as $tName"))).cast(dt))
      .otherwise(c.cast(dt))

  /** Shared contract of the streaming near-dedup paths: an
    * event-time horizon is mandatory (it is what bounds the bucket
    * owner state), and batch-only knobs fail loudly instead of being
    * silently ignored — closure and keep-filtering are batch reads
    * over the DRAINED candidate rows, not properties of the
    * streaming emission. Returns (strategy node, timestamp field). */
  private def streamingDedupContract(cfg: ModuleCfg, method: String)
      : (com.fasterxml.jackson.databind.JsonNode, String) = {
    val p = cfg.params
    val strategy = cfg.node("strategy").getOrElse(graft.config.Json.obj())
    graft.streaming.Strategy.warnUnknownKeys(strategy, cfg.name)
    val ts = strategy.str("timestampField").getOrElse(
      throw new IllegalArgumentException(
        s"streaming $method dedup needs strategy.timestampField (and " +
          "allowedLateness) to bound its bucket state: without an " +
          "event-time horizon the bucket owner state grows with the " +
          "whole stream"))
    require(!p.bool("transitive").getOrElse(false),
      s"dedup ${cfg.name}: transitive closure does not apply to " +
        s"streaming $method dedup — candidates emit as they arrive; " +
        "run a batch dedup with method: verdicts (transitive: true) " +
        "over the drained candidate rows")
    require(p.str("keep").isEmpty,
      s"dedup ${cfg.name}: keep does not apply to streaming $method " +
        "dedup — the output IS the candidate rows; run a batch " +
        "dedup with method: verdicts, corpusInput and " +
        "keep: canonical over the drained rows to anti-join the " +
        "corpus against them")
    (strategy, ts)
  }

  /** Flag docs sharing any band bucket with a smaller id.
    * `bandRows` = (__id, __band_idx, __band_hash).
    *
    * Bucket minima come from a window over the band bucket, NOT a
    * groupBy + join back: the join form computes the whole signature
    * pipeline (explode → hash → aggregate) TWICE — once for the
    * bucket-min aggregate and once for the probe side (measured ~2×
    * on the sf0.1 bench). The window shuffles the narrow band rows
    * (3 longs) exactly once; it is partitioned by bucket, whose
    * cardinality grows with the corpus, so there is no funnel. */
  private def lshDedup(df: DataFrame, idField: String,
      bandRows: DataFrame, transitive: Boolean = false,
      maxIter: Int = 50): DataFrame = {
    val bucketPairs = bandRows
      .withColumn("__rep_id", min("__id").over(
        Window.partitionBy("__band_idx", "__band_hash")))
      .filter(col("__id") > col("__rep_id"))
      .select("__id", "__rep_id")
    joinVerdicts(df, idField, verdictsOf(bucketPairs, transitive, maxIter))
  }

  /** n-gram Jaccard dedup: char-n-gram minhash candidates verified by
    * exact Jaccard within buckets (verification join touches only
    * candidate pairs, never the full corpus cross-product). */
  private def ngramDedup(df: DataFrame, textField: String, idField: String,
      p: com.fasterxml.jackson.databind.JsonNode, md5Mode: Boolean,
      transitive: Boolean, maxIter: Int): DataFrame = {
    val n = p.int("ngramSize").getOrElse(5)
    val threshold = p.dbl("threshold").getOrElse(0.8)
    val slim = df.select(col(idField).as("__id"),
      col(textField).as("__t"))
    val bands = bandRows("ngram", p, md5Mode,
      textRows(df, textField, idField), Seq("__id"))
    // Bucket representative via a window over the band bucket (not
    // groupBy + join back) so the signature pipeline is computed once
    // — see lshDedup. Persisted: candidates feed three subtrees (the
    // id set for gram extraction + both sides of the verify join);
    // without the cache the signature pipeline would be recomputed
    // per subtree. Two longs per candidate pair — trivially cacheable
    // even when the corpus is not. Duplicate pairs from multi-band
    // collisions ARE distinct()'d: true near-dups collide in most of
    // the 8 bands, so skipping the distinct re-runs the (two
    // ~|doc|-element array) Jaccard verify up to 8× per pair —
    // measured 3× the verify stage time at sf0.1 — while the distinct
    // itself shuffles only 16 bytes/pair.
    val candidates = bands
      .withColumn("__rep_id", min("__id").over(
        Window.partitionBy("__band_idx", "__band_hash")))
      .filter(col("__id") > col("__rep_id"))
      // persisted for the two downstream consumers; consumers run
      // at sink-action time, after build returns, so an unpersist
      // here would defeat the cache — CacheTracker releases it when
      // Pipeline.execute's sink actions complete. Blocks are
      // ids-only/bounded and MEMORY_AND_DISK-evictable; batch
      // harnesses (Verify/Bench) clearCache between pipelines.
      .select("__id", "__rep_id").distinct()
      .transform(graft.ops.CacheTracker.trackPersist)
    // verification grams are computed only for candidate-pair members
    // (semi-join on the candidate id set — which also dedups it), NOT
    // for the whole corpus: the full-corpus gram frame would either
    // be recomputed per join side or need a corpus-sized cache at
    // 100 TB. The candidate gram frame is bounded by the (much
    // smaller) candidate count, so persisting it for the two-sided
    // join is cheap.
    // join strategy is left to AQE: it converts to broadcast from the
    // ACTUAL runtime size of the gram frame and falls back to a
    // (skew-handled) shuffle join otherwise — same safety as an exact
    // pre-count without the blocking count() job the previous version
    // paid before verification could start.
    val candIds = candidates
      .select(explode(array(col("__id"), col("__rep_id"))).as("__cid"))
    val candGrams = slim
      .join(candIds, col("__id") === candIds("__cid"), "left_semi")
      .select(col("__id").as("__cid"),
        array_distinct(charNgrams(col("__t"), n)).as("__cg"))
      .transform(graft.ops.CacheTracker.trackPersist)
    val verifiedPairs = candidates
      .join(candGrams
        .select(col("__cid").as("__id"), col("__cg").as("__g")), "__id")
      .join(candGrams
        .select(col("__cid").as("__rep_id"),
          col("__cg").as("__g_rep")), "__rep_id")
      // both gram arrays are array_distinct'd above, so the
      // single-set-build jaccard applies (skips the union's second
      // hash set per pair — the verify filter's dominant cost)
      .filter(jaccardDistinct(col("__g"), col("__g_rep")) >= threshold)
      .select("__id", "__rep_id")
    joinVerdicts(df, idField,
      verdictsOf(verifiedPairs, transitive, maxIter))
  }

  /** Winnowing fingerprint dedup (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS algorithm): hash every `ngramSize`-token
    * gram, slide a `window`-wide window over the gram-hash sequence
    * and select each window's MINIMUM hash; the distinct selected
    * hashes are the document's fingerprint set. The paper's
    * guarantee: any token run of >= `window + ngramSize − 1` tokens
    * shared by two documents selects at least one common fingerprint
    * — so near-dups with a long shared substring ALWAYS become
    * candidates (minhash detection is only probabilistic) — while
    * the expected fingerprint density is 2/(window+1) of the gram
    * count, i.e. the candidate index is ~window/2 times smaller than
    * the full gram inventory the spans mode shuffles.
    *
    * Candidates = ALL doc pairs sharing any fingerprint whose bucket
    * holds at most `maxBucket` docs (default 64); below the cap the
    * guarantee is unconditional, with every sharing pair verified
    * (a min-rep-per-bucket scheme — the LSH modes' shape — silently
    * loses pairs whenever a lower-id SUPERSET doc absorbs the rep
    * slot: its fingerprint set dwarfs the overlap, the rep pair
    * fails verify, and the true dup pair is never tested). Buckets
    * OVER the cap fall back to exactly that min-rep pairing — linear
    * in the bucket, no quadratic blowup — because a hot fingerprint
    * is usually boilerplate (nav bars, licence headers, the lines/
    * spans modes' territory) but can also be whole-document
    * replication, which must still dedup. Verify =
    * exact Jaccard of the two fingerprint SETS >= `threshold`
    * (winnowed Jaccard is an unbiased estimate of the gram Jaccard;
    * computed exactly over the compressed sets).
    *
    * Scale shape: fingerprints are a pure map-side Column program in
    * BOTH hash modes (split → gram hash → per-window min — no UDF,
    * unlike the minhash/simhash signatures); only (fingerprint, id)
    * pairs shuffle for candidates, candidate pairs are two ids, and
    * the verify join recomputes fingerprints ONLY for candidate
    * members (semi-join, bounded) so nothing corpus-sized is cached
    * or re-shuffled. `hashAlgo: md5` = the SQL-replayable audit mode
    * (hex-prefix gram digests — the q127 oracle); default = seeded
    * xxhash64 of the token-hash slice (the chunk-cdc fast path:
    * each token hashed once, one bounded long-array hash per gram).
    * Each HOF stage materializes in its own projection because the
    * next stage references it more than once (size + slice) —
    * inlined, CollapseProject would re-evaluate the upstream subtree
    * once per array ELEMENT (the header note's hazard; same guard as
    * chunk cdc). */
  private def winnowDedup(df: DataFrame, textField: String,
      idField: String, k: Int, w: Int, threshold: Double,
      maxBucket: Int, md5Mode: Boolean, seed: String,
      transitive: Boolean, maxIter: Int): DataFrame = {
    // a 2-member bucket is the smallest that can pair; below that
    // every bucket would be skipped and the run would silently
    // report zero duplicates
    require(maxBucket >= 2,
      s"dedup winnow: maxBucket must be >= 2, got $maxBucket")
    val slim = df.select(col(idField).as("__id"),
      col(textField).as("__t"))
      .filter(col("__t").isNotNull) // null text: never a candidate
    def fps(in: DataFrame): DataFrame =
      winnowFps(in, k, w, md5Mode, seed)
    // explode_OUTER, not explode: on an inner explode,
    // InferFiltersFromGenerate synthesizes `size(input) > 0` and
    // predicate pushdown inlines the ENTIRE fingerprint tree into
    // that filter below every projection — nested HOFs then
    // re-evaluate per array element (measured 34 s vs 0.6 s on 5k
    // docs). The outer variant is exempt from the inference; the
    // null rows it keeps (never any: fingerprint arrays have >= 1
    // element for non-null text) drop in the post-filter, which
    // references the generate OUTPUT and cannot be pushed below it.
    val fe = fps(slim)
      .select(col("__id"), explode_outer(col("__fps")).as("__fp"))
      .filter(col("__fp").isNotNull)
    // per-bucket stats are a map-side partial aggregate, so a hot
    // boilerplate fingerprint never funnels raw rows anywhere
    val stats = fe.groupBy("__fp")
      .agg(count(lit(1)).as("__bc"), min(col("__id")).as("__mn"))
      .filter(col("__bc") >= 2)
      .transform(graft.ops.CacheTracker.trackPersist)
    // all pairs within each bucket of <= maxBucket members: collect
    // the (cap-bounded) sorted member ids per fingerprint and expand
    // the id pairs map-side — ids ascend, so __id > __rep_id by
    // construction; multi-fingerprint repeats of a pair collapse in
    // the distinct (16 bytes/pair)
    val ids = fe.join(stats.filter(col("__bc") <= maxBucket)
        .select("__fp"), Seq("__fp"), "left_semi")
      .groupBy("__fp")
      .agg(sort_array(collect_set(col("__id"))).as("__ids"))
    val allPairs = ids
      .select(explode_outer(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + lit(2), size(col("__ids"))),
          y => struct(y.as("__a"), x.as("__b")))))).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("__p.__a").as("__id"), col("__p.__b").as("__rep_id"))
    // over-cap buckets FALL BACK to min-rep pairing (each member vs
    // the bucket minimum — linear, no collect buffer): a bucket
    // hotter than maxBucket is usually boilerplate, but it is also
    // what a 100-copy replicated page looks like, and dropping it
    // outright would silently lose exactly the most-duplicated
    // content. Above the cap the guarantee degrades to the LSH
    // modes' min-rep behavior (a low-id superset can mask pairs);
    // below it the all-pairs guarantee is unconditional.
    val overPairs = fe
      .join(stats.filter(col("__bc") > maxBucket)
        .select(col("__fp"), col("__mn")), Seq("__fp"))
      .filter(col("__id") > col("__mn"))
      .select(col("__id"), col("__mn").as("__rep_id"))
    val candidates = allPairs.union(overPairs)
      // persisted: the pair set feeds three subtrees (candidate-id
      // explode + both verify join sides) — two ids per row, bounded
      .distinct()
      .transform(graft.ops.CacheTracker.trackPersist)
    val candIds = candidates
      .select(explode(array(col("__id"), col("__rep_id"))).as("__cid"))
    val candFps = fps(slim
        .join(candIds, col("__id") === candIds("__cid"), "left_semi"))
      .transform(graft.ops.CacheTracker.trackPersist)
    val verifiedPairs = candidates
      .join(candFps.select(col("__id"), col("__fps").as("__f")), "__id")
      .join(candFps.select(col("__id").as("__rep_id"),
        col("__fps").as("__f_rep")), "__rep_id")
      // fingerprint arrays are array_distinct'd → the length-only
      // union size applies (see jaccardDistinct)
      .filter(jaccardDistinct(col("__f"), col("__f_rep")) >= threshold)
      .select("__id", "__rep_id")
    joinVerdicts(df, idField,
      verdictsOf(verifiedPairs, transitive, maxIter))
  }

  /** The winnow fingerprint program over a slim (`__id`, `__t`)
    * frame → (`__id`, `__fps`): token k-grams, gram hashes, and the
    * per-window minimum selection, entirely map-side Columns. Shared
    * by self-dedup and referenceInput mode so both sides of a
    * cross-corpus run compute IDENTICAL fingerprints. */
  private def winnowFps(in: DataFrame, k: Int, w: Int,
      md5Mode: Boolean, seed: String,
      keep: Seq[String] = Nil): DataFrame = {
    // validated here so BOTH the self and referenceInput paths fail
    // loudly: window 0 would make every window min null and silently
    // report zero duplicates
    require(k > 0 && w > 0,
      "dedup winnow: ngramSize and window must be positive")
    val d1 = in.withColumn("__toks", split(trim(col("__t")), "\\s+"))
    val toks = col("__toks")
    val n = size(toks)
    // grams live at token positions 1..n−k+1 (one whole-doc gram
    // when the doc is shorter than k — the q34 short-doc rule)
    val d2 =
      if (md5Mode) d1.withColumn("__wg",
        transform(sequence(lit(1), greatest(n - k + 1, lit(1))), i =>
          substring(md5(concat_ws(" ", lit(seed),
            array_join(slice(toks, i, lit(k)), " "))), 1, 8)))
      else {
        val dth = d1.withColumn("__tth",
          transform(toks, t => xxhash64(lit(seed), t)))
        val th = col("__tth")
        dth.withColumn("__wg",
          transform(sequence(lit(1),
            greatest(size(th) - k + 1, lit(1))),
            i => xxhash64(slice(th, i, lit(k)))))
      }
    val g = col("__wg")
    // windows at gram positions 1..nG−w+1 (one window when the
    // gram sequence is shorter than w); array_min orders hex
    // strings lexicographically / longs numerically — both total
    d2.withColumn("__fps",
        array_distinct(transform(
          sequence(lit(1), greatest(size(g) - w + 1, lit(1))),
          i => array_min(slice(g, i, lit(w))))))
      .select(col("__id") +: keep.map(col) :+ col("__fps"): _*)
  }

  /** Line-level boilerplate dedup (CCNet §3.1 / RefinedWeb line-wise
    * filtering): a line whose corpus-wide frequency reaches `minCount`
    * is boilerplate (nav bars, cookie banners, copyright footers) and
    * is stripped from every document; the doc's text is reassembled
    * from the surviving lines in order.
    *
    * Scale shape: the frequency aggregate map-side-combines duplicate
    * lines per task before the shuffle, so the hot "Home" line that
    * appears a billion times shuffles once per task, not once per
    * occurrence — the skew that a count-over-Window.partitionBy(line)
    * would funnel into one partition never materializes. The banned
    * set (distinct lines at freq >= minCount) is boilerplate-sized,
    * not corpus-sized; AQE converts the flagging join to broadcast
    * from its runtime size, making it map-side. One real shuffle
    * remains: the per-doc reassembly groupBy, which carries exactly
    * the retained text once.
    */
  private def lineDedup(df: DataFrame, textField: String,
      idField: String, minCount: Int): DataFrame = {
    val lines = df
      .select(col(idField).as("__id"),
        posexplode(split(col(textField), "\n")).as(Seq("__idx", "__raw")))
      .withColumn("__line", trim(col("__raw")))
      .filter(col("__line") =!= "")
      .select("__id", "__idx", "__line")
    val banned = lines.groupBy("__line")
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select(col("__line"), lit(true).as("__ban"))
    // flag join strategy is AQE's call: the banned side is
    // boilerplate-sized in practice and converts to broadcast from
    // runtime stats; a pathological corpus (every line repeated)
    // degrades to a skew-handled shuffle join instead of an OOM.
    // one groupBy computes both outputs: collect_list drops the nulls
    // that `when` (no otherwise) produces for banned lines
    val rebuilt = lines
      .join(banned, Seq("__line"), "left")
      .groupBy("__id")
      .agg(
        sum(when(col("__ban"), 1L).otherwise(0L)).as("__rm"),
        array_join(expr("transform(" +
          "array_sort(collect_list(CASE WHEN __ban IS NULL THEN " +
          "struct(__idx, __line) END)), x -> x.__line)"), "\n")
          .as("__clean"))
    df.join(rebuilt, df(idField) === rebuilt("__id"), "left")
      .withColumn(textField, coalesce(col("__clean"), lit("")))
      .withColumn("__removed_lines", coalesce(col("__rm"), lit(0L)))
      .drop("__id", "__rm", "__clean")
  }

  /** Duplicated-substring filtering: annotate every doc with the
    * fraction of its token spans (length `spanTokens`, stride
    * `stride`) that also occur in at least `minCount - 1` OTHER
    * documents, and optionally drop docs past `maxDupFraction` —
    * the span-level "deduplicating training data" scrub (Lee et al.
    * 2021, arXiv:2107.06499) re-expressed over hashed fixed-length
    * spans so it distributes (a corpus-wide suffix array does not).
    *
    * Scale shape: span hashes are computed in one map-side UDF pass
    * (8 bytes/span — never the span strings). The (id, hash) explode
    * is consumed twice — once for the duplicated-hash inventory, once
    * for the per-doc flagged-span count — and deliberately RECOMPUTED
    * per consumer instead of cached: the frame is corpus-sized, both
    * derivations are pure map-side work, and a 100 TB cache would
    * thrash every executor. The duplicated-hash inventory aggregates
    * (hash, id) with map-side partial combine, then hash alone, so
    * the widest shuffle rows are 16 bytes. Per-doc span totals come
    * free from `size(spans)` before the explode — no extra shuffle.
    * The flag join runs on the hash key under AQE (broadcast if the
    * duplicated inventory is small, skew-handled shuffle otherwise).
    */
  private def spanDedup(df: DataFrame, textField: String,
      idField: String, spanTokens: Int, stride: Int, minCount: Int,
      maxDupFraction: Double, remove: Boolean): DataFrame = {
    val hashes = spanHashesUdf(spanTokens, stride)(col(textField))
    // null text filtered on the cheap column (null spans ⇔ null
    // text), and explode_OUTER + post-filter instead of an inner
    // explode: the inner form's inferred size() filter would inline
    // the span UDF and run it twice per row (see winnowDedup)
    val spans = df
      .filter(col(textField).isNotNull)
      .select(col(idField).as("__id"), hashes.as("__spans"))
      .select(col("__id"), explode_outer(col("__spans")).as("__h"))
      .filter(col("__h").isNotNull)
    // a span hash is "duplicated" when it occurs in >= minCount
    // DISTINCT docs (within-doc self-repetition is the repetition
    // analyzer's job, not dedup's): two-level aggregate instead of
    // count_distinct's expand
    val dupHashes = spans.groupBy("__h", "__id").count()
      .groupBy("__h").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minCount)
      .select("__h")
    val dupCnt = spans
      .join(dupHashes, Seq("__h"), "left_semi")
      .groupBy("__id").agg(count(lit(1)).as("__dup"))
    val totals = df.select(col(idField).as("__id"),
      coalesce(size(hashes), lit(0)).cast(LongType).as("__tot"))
    val frac = totals
      .join(dupCnt, Seq("__id"), "left")
      .select(col("__id"),
        when(col("__tot") === 0L, lit(0.0))
          .otherwise(coalesce(col("__dup"), lit(0L)).cast(DoubleType) /
            col("__tot").cast(DoubleType))
          .as("__dup_span_fraction"))
    val annotated = df
      .join(frac, df(idField) === frac("__id"), "left")
      .drop("__id")
    if (remove)
      annotated.filter(col("__dup_span_fraction") < maxDupFraction)
        .drop("__dup_span_fraction")
    else annotated
  }

  /** Benchmark decontamination: flag (or remove) corpus docs sharing
    * any word n-gram with a benchmark/eval collection — the standard
    * train/test-overlap scrub for LLM training data (n-gram overlap a
    * la GPT-3 appendix C; default n=8 word-grams).
    *
    * Scale shape: benchmark gram sets are small by nature (eval suites
    * are MBs, the corpus is TBs) → distinct benchmark grams are
    * broadcast (guarded by an exact count). A benchmark OVER the
    * broadcast limit no longer degrades to shuffling every corpus
    * gram: a bloom filter over the bench grams (distributed
    * treeAggregate build, ~1.2 MB per million grams at 1% fpp)
    * broadcasts instead, rejects ~all corpus grams map-side, and only
    * the surviving grams shuffle into an EXACT verifying semi-join —
    * a bloom false positive costs one shuffled row, never a wrong
    * result. Either way nothing corpus-sized crosses the wire: only
    * matched doc ids (a tiny fraction in practice) reach the
    * distinct + final join.
    */
  /** Benchmark decontamination. Actions: `flag` appends
    * `__contaminated`; `remove` drops matched docs; `report` appends
    * the standard eval-contamination metric — `__grams_total`
    * (distinct word n-grams of the doc), `__grams_matched` (those
    * also in the benchmark), `__overlap` (their ratio, 0 for
    * gram-less docs) — so thresholds are the caller's policy call,
    * not the operator's. Report adds one map-side-combined distinct
    * count per side on top of flag's plan; still nothing
    * corpus-sized shuffles. */
  /** report's output columns must not collide with input columns
    * (shared by the batch and streaming report branches). */
  private def reportClashCheck(df: DataFrame): Unit = {
    val clash = Seq("__grams_total", "__grams_matched", "__overlap")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"dedup decontaminate report: input columns " +
        s"${clash.mkString(", ")} collide with the report's output " +
        "columns — rename them upstream")
  }

  private def decontaminate(df: DataFrame, bench: DataFrame,
      textField: String, benchField: String, idField: String,
      n: Int, action: String, broadcastLimit: Int,
      bloomFpp: Double): DataFrame = {
    // the benchmark is the bounded reference by construction; a
    // streaming bench would fail as an opaque count()-on-stream error
    require(!bench.isStreaming,
      "dedup decontaminate: the benchmark input must be bounded " +
        "(batch) — stage the benchmark to storage first; only the " +
        "CORPUS side may stream")
    val benchGrams = bench
      .select(explode(shingles(col(benchField), n)).as("__gram"))
      .distinct().transform(graft.ops.CacheTracker.trackPersist)
    // materializing the (persisted) gram set yields an EXACT size for
    // the broadcast decision — same pattern as ngramDedup's candidate
    // count; the count action costs one scan of the small benchmark.
    val nGrams = benchGrams.count()
    // STREAMING corpus: the batch plan's hit derivation (explode →
    // semi-join → distinct doc ids → join BACK onto the corpus) is a
    // streaming aggregate plus a stream-stream self-join — Spark
    // rejects it at sink start. The streaming form makes the whole
    // decision PER ROW against a driver-collected benchmark gram set
    // (map-side, stateless, zero shuffle — each micro-batch flags
    // independently), which requires the set under the broadcast
    // limit; the bloom fallback cannot serve here because a false
    // positive needs the exact verifying join the stream cannot run.
    if (df.isStreaming) {
      require(nGrams <= broadcastLimit,
        s"dedup decontaminate on a stream holds the benchmark gram " +
          s"set on every executor for the per-row membership check " +
          s"(what keeps the stream stateless), and $nGrams distinct " +
          s"grams exceed broadcastThreshold ($broadcastLimit) — " +
          "raise broadcastThreshold, shrink the benchmark, or " +
          "decontaminate in a batch stage")
      val set = benchGrams.collect().map(_.getString(0)).toSet
      // the persisted frame's contents now live in the broadcast
      // set; without the unpersist both copies stay resident for
      // the stream's lifetime (CacheTracker keeps streaming-run
      // frames alive)
      benchGrams.unpersist(blocking = false)
      val bc = df.sparkSession.sparkContext.broadcast(set)
      if (action == "report") {
        reportClashCheck(df)
        // one pass: distinct grams + matched distinct per row (same
        // counts as the batch plan's two count_distinct aggregates)
        val stats = udf { (gs: Seq[String]) =>
          if (gs == null) (0L, 0L)
          else {
            val d = gs.distinct
            (d.size.toLong, d.count(bc.value.contains).toLong)
          }
        }
        return df
          .withColumn("__st", stats(shingles(col(textField), n)))
          .withColumn("__grams_total", col("__st._1"))
          .withColumn("__grams_matched", col("__st._2"))
          .withColumn("__overlap",
            when(col("__grams_total") === 0L, lit(0.0))
              .otherwise(col("__grams_matched").cast("double") /
                col("__grams_total").cast("double")))
          .drop("__st")
      }
      // flag/remove: short-circuit at the first shared gram
      val hit = udf { (gs: Seq[String]) =>
        gs != null && gs.exists(bc.value.contains)
      }
      val flagged =
        df.withColumn("__contaminated", hit(shingles(col(textField), n)))
      return if (action == "remove")
        flagged.filter(!col("__contaminated")).drop("__contaminated")
      else flagged
    }
    val corpusGrams = df
      .select(col(idField).as("__id"),
        explode(shingles(col(textField), n)).as("__gram"))
    val matched =
      if (nGrams <= broadcastLimit)
        corpusGrams.join(broadcast(benchGrams), Seq("__gram"),
          "left_semi")
      else {
        val bf = benchGrams.stat.bloomFilter("__gram",
          math.max(nGrams, 1L), bloomFpp)
        // not explicitly destroyed: the returned plan still references
        // the broadcast lazily, and Spark's ContextCleaner reclaims it
        // once the plan is garbage-collected
        val bfB = df.sparkSession.sparkContext.broadcast(bf)
        val might = udf((g: String) =>
          g != null && bfB.value.mightContainString(g))
        corpusGrams.filter(might(col("__gram")))
          .join(benchGrams, Seq("__gram"), "left_semi")
      }
    if (action == "report") {
      reportClashCheck(df)
      val totals = corpusGrams.groupBy(col("__id"))
        .agg(count_distinct(col("__gram")).as("__grams_total"))
      val matchedPer = matched.groupBy(col("__id"))
        .agg(count_distinct(col("__gram")).as("__grams_matched"))
      return df
        .join(totals, df(idField) === totals("__id"), "left")
        .drop("__id")
        .join(matchedPer, df(idField) === matchedPer("__id"), "left")
        .drop("__id")
        .withColumn("__grams_total",
          coalesce(col("__grams_total"), lit(0L)))
        .withColumn("__grams_matched",
          coalesce(col("__grams_matched"), lit(0L)))
        .withColumn("__overlap",
          when(col("__grams_total") === 0L, lit(0.0))
            .otherwise(col("__grams_matched").cast("double") /
              col("__grams_total").cast("double")))
    }
    val hits = matched.select("__id").distinct()
    if (action == "remove")
      df.join(hits, df(idField) === hits("__id"), "left_anti")
    else
      df.join(hits.withColumn("__hit", lit(true)),
          df(idField) === hits("__id"), "left")
        .withColumn("__contaminated", coalesce(col("__hit"), lit(false)))
        .drop("__id", "__hit")
  }

  /** Component-minimum labels over an undirected pair set (cols
    * `__id`, `__rep_id`) by plain hash-min propagation: every vertex
    * repeatedly adopts the minimum of its own and its neighbors'
    * labels until a fixpoint. Labels decrease monotonically, so the
    * fixpoint is exactly the connected-component minimum — chains
    * A~B (bucket 1), B~C (bucket 2) resolve to one cluster even
    * though A and C never shared a bucket.
    *
    * Scale shape: the edge list is the (ids-only, already bounded)
    * candidate/verified pair set, never the corpus; each iteration
    * shuffles |E| label rows + |V| merge rows, and the per-round
    * pointer jump halves the remaining chain depth so convergence
    * is O(log diameter) hops. Near-dup clusters are shallow (a dup
    * resembles the doc it duplicates), so typical convergence is a
    * handful of rounds; a graph still moving after `maxIter` fails
    * loudly rather than returning partial labels.
    * Returns (`__id`, `__dup_of`) for every vertex below its
    * component min. */
  private[graft] def componentMin(pairs: DataFrame,
      maxIter: Int = 50,
      label: String = "dedup transitive",
      hint: String = "raise maxIterations or lower the similarity " +
        "threshold"): DataFrame = {
    // materialize the pair frame FIRST, under the session's normal
    // planning: the loop scope below turns AQE off and sizes shuffle
    // partitions to the loop's own (tiny) width, and that scope must
    // not leak into the possibly-expensive upstream that computes the
    // pairs — measured r22: q126's KNN subtree re-ran inside the
    // scope at the loop's width, 3.3 → 7.4 s. The checkpoint also
    // lets the edges union below read the upstream once instead of
    // twice.
    val mat = pairs.localCheckpoint(true)
    // planner scope for the iterated hops (r22): AQE off — adaptive
    // plans report UnknownPartitioning at each hop's localCheckpoint
    // boundary, which silently forfeited the edges-stay-put design
    // below (the "LogicalRDD keeps the partitioning" contract only
    // holds for non-adaptive plans) — plus shuffle partitions derived
    // from the pair frame's size estimate; see
    // TransformCommon.withLoopPlanning.
    TransformCommon.withLoopPlanning(mat) {
      componentMinLoop(mat, maxIter, label, hint)
    }
  }

  private def componentMinLoop(pairs: DataFrame,
      maxIter: Int,
      label: String,
      hint: String): DataFrame = {
    // localCheckpoint (not persist) on every iterate: an iterative
    // self-join grows the logical plan ~2x per hop — persist truncates
    // recompute but not analysis, so by ~15 hops Catalyst is
    // re-optimizing a million-node plan and the driver OOMs. Lineage
    // truncation each round keeps the plan O(1) per iteration. Each
    // iterate leaves |V| label rows in MEMORY_AND_DISK checkpoint
    // blocks (Dataset.unpersist cannot drop them — it only uncaches
    // cache-manager entries); the ContextCleaner frees them as
    // superseded iterates become unreachable, and the hop count is
    // small (dup-graph diameter), so peak block usage stays bounded.
    // hash-partition edges on the probe key before checkpointing:
    // LogicalRDD keeps the partitioning, so the per-hop edges⋈labels
    // join never re-shuffles the (static) edge list — only the
    // label side moves each iteration
    val edges = pairs
      .select(col("__id").as("__s"), col("__rep_id").as("__d"))
      .union(pairs
        .select(col("__rep_id").as("__s"), col("__id").as("__d")))
      .distinct()
      .repartition(col("__s"))
      .localCheckpoint(true)
    var labels = edges.select(col("__s").as("__v"), col("__s").as("__l"))
      .distinct()
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (!converged) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"$label: component labels still changing after " +
            s"$maxIter iterations — the graph has a chain longer " +
            s"than maxIter; $hint")
      // shuffle_hash hints (r22): with AQE scoped off the planner
      // would pick sort-merge (LogicalRDD sides have no stats to
      // qualify for broadcast), which re-SORTS the static edge frame
      // every hop — a hash build of the label side is linear and
      // respects the loop's co-partitioning the same way
      val nbrMin = edges
        .join(labels.hint("shuffle_hash"), edges("__s") === labels("__v"))
        .select(edges("__d").as("__v"), labels("__l").as("__nl"))
        .groupBy("__v").agg(min("__nl").as("__nl"))
      val merged = labels.join(nbrMin.hint("shuffle_hash"), Seq("__v"), "left")
        .select(col("__v"), col("__l").as("__l0"),
          least(col("__l"), coalesce(col("__nl"), col("__l")))
            .as("__l"))
      // pointer jump (path doubling): also adopt the label OF your
      // label, halving the remaining chain depth each round — hop
      // count is O(log diameter) instead of O(diameter), which is
      // what keeps adversarially deep near-dup chains (templated
      // docs drifting gradually) from needing hundreds of rounds
      val jumpSrc = merged
        .select(col("__v").as("__jv"), col("__l").as("__jl"))
      // fold the did-anything-change flag into the iterate itself:
      // probing via a next-vs-previous join would add a second
      // shuffle join per hop, where a flag computed in the same
      // projection is free and the probe over the checkpointed
      // frame is a shuffle-less scan
      // LAZY checkpoint + the convergence count as the materializing
      // action: the eager form ran TWO jobs per hop (checkpoint
      // materialization, then the cache-scan count) — lazy truncates
      // the logical plan identically (LogicalRDD wraps the round's
      // un-materialized RDD) and the count below fills the
      // checkpoint cache while it scans (r21; arithmetic,
      // partitioning and hop count unchanged). On non-converged hops
      // the limit(1) may short-circuit before every partition
      // computed, in which case doCheckpoint launches a backfill job
      // for the missing partitions — still cheaper than the old
      // eager materialization + separate full count
      val next = merged
        .join(jumpSrc.hint("shuffle_hash"), col("__l") === col("__jv"), "left")
        .select(col("__v"),
          least(col("__l"), coalesce(col("__jl"), col("__l")))
            .as("__l"), col("__l0"))
        .select(col("__v"), col("__l"),
          (col("__l") < col("__l0")).as("__changed"))
        .localCheckpoint(false)
      converged = next.filter(col("__changed")).limit(1).count() == 0L
      labels = next.select("__v", "__l")
      it += 1
    }
    // stderr, not just log.info: Bench/Verify run at WARN level, and
    // the hop count is what makes this operator's run-to-run wall
    // clock attributable (each hop pays fixed job-scheduling overhead
    // that dominates at small scale) — the bench JSON contract only
    // covers stdout's last line, so stderr is safe
    System.err.println(
      s"$label: component labels converged in $it hops")
    labels.filter(col("__l") < col("__v"))
      .select(col("__v").as("__id"), col("__l").as("__dup_of"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embeddings, then dedup WITHIN each cluster against a single
    * representative. Complements `embedding` (hyperplane-LSH buckets):
    * clusters follow the data's density instead of random cuts, so
    * semantic duplicates that straddle an LSH hyperplane still land in
    * one cell.
    *
    * `repPolicy` picks the kept representative per cell:
    *  - `centroidFar` (default, the paper's policy): the doc LEAST
    *    similar to its centroid survives — SemDeDup keeps cluster-edge
    *    examples because near-centroid points are the semantically
    *    redundant ones. Ties break on min id.
    *  - `minId`: smallest id, consistent with every other method.
    *
    * Scale shape: the centroid table is codebook-sized and ships in
    * the assignment UDF's closure (a broadcast, never a shuffle); the
    * corpus shuffles ONCE on the cell key for the window
    * representative; cell count is a knob (`centroids`) that grows
    * with the corpus, so cells stay bounded and there is no funnel.
    * Within-cell work is rep-vs-member — O(|cell|), not the paper's
    * literal O(|cell|²) pairwise pass; chains collapse via
    * `transitive: true` (min-id canonicalization) instead. */
  private def semDedup(df: DataFrame, embField: String, idField: String,
      centroids: Array[Array[Float]], threshold: Double,
      repPolicy: String, transitive: Boolean, maxIter: Int): DataFrame = {
    val assign = SimilarityTransform.assignUdf(centroids, 1)
    val slim = df.select(col(idField).as("__id"),
      col(embField).as("__emb"))
      // null embeddings would all assign to one junk cell — exclude
      .filter(col("__emb").isNotNull)
      .withColumn("__cell", assign(col("__emb"))(0))
    // per-cell representative via a window (not groupBy + join back):
    // the join form runs the assignment UDF over the corpus twice —
    // same reasoning as embeddingDedup's bucket window
    val withRep = repPolicy match {
      case "minId" =>
        slim.withColumn("__rep",
          min_by(struct(col("__id"), col("__emb")), col("__id"))
            .over(Window.partitionBy("__cell")))
      case "centroidFar" =>
        slim.withColumn("__csim",
          cellSim(centroids)(col("__emb"), col("__cell")))
          .withColumn("__rep",
            min_by(struct(col("__id"), col("__emb")),
              struct(col("__csim"), col("__id")))
              .over(Window.partitionBy("__cell")))
      case other => throw new IllegalArgumentException(
        s"dedup semdedup repPolicy: $other (centroidFar | minId)")
    }
    val verifiedPairs = withRep
      .filter(col("__id") =!= col("__rep.__id"))
      .filter(cosine(col("__emb"), col("__rep.__emb")) >= threshold)
      .select(col("__id"), col("__rep.__id").as("__rep_id"))
    // one rep per cell and one cell per doc → __id is already unique:
    // the pairs ARE the verdicts (distinct only guards the degenerate
    // all-identical case and shuffles two longs per flagged doc)
    joinVerdicts(df, idField,
      verdictsOf(verifiedPairs, transitive, maxIter, oneRepPerDoc = true))
  }

  /** Cosine of a vector to its assigned cell's centroid — the same
    * index-ordered double loop as `TextFunctions.cosine` (and the same
    * arithmetic a SQL oracle's list_cosine_similarity computes), with
    * NO epsilon: this value ORDERS the rep choice, so it must replay
    * bit-identically. */
  private def cellSim(cents: Array[Array[Float]]) = udf {
    (v: Seq[Float], cell: Int) =>
      val c = cents(cell)
      val n = math.min(v.length, c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = v(i).toDouble; val y = c(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Embedding cosine near-dup via hyperplane LSH buckets. */
  private def embeddingDedup(df: DataFrame, embField: String,
      idField: String, bucket: Column => Column, threshold: Double,
      transitive: Boolean, maxIter: Int): DataFrame = {
    val slim = df.select(col(idField).as("__id"),
      col(embField).as("__emb"))
      // null embeddings share the null bucket — exclude them rather
      // than flag them as duplicates of each other; the filter sits
      // on the cheap embedding column (null bucket ⇔ null emb) so
      // the projection UDF is not inlined into a pushed null check
      .filter(col("__emb").isNotNull)
      .withColumn("__bucket", bucket(col("__emb")))
    // per-bucket representative via a window (not groupBy + join
    // back): the join form runs the hyperplane-projection UDF over
    // the corpus twice. One shuffle on the bucket key; bucket
    // cardinality grows with the corpus, so no funnel.
    val verifiedPairs = slim
      .withColumn("__rep", min_by(struct(col("__id"), col("__emb")),
        col("__id")).over(Window.partitionBy("__bucket")))
      .filter(col("__id") > col("__rep.__id"))
      .filter(cosine(col("__emb"), col("__rep.__emb")) >= threshold)
      .select(col("__id"), col("__rep.__id").as("__rep_id"))
    joinVerdicts(df, idField, verdictsOf(verifiedPairs, transitive, maxIter))
  }

  /** Doc-level verdicts (`__id`, `__dup_of`) from candidate or
    * verified pairs (`__id`, `__rep_id`) — the one reduce every
    * pair-producing method shares. `transitive`: the connected-component
    * minimum ([[componentMin]]; chains A~B, B~C collapse to one
    * cluster even when A and C never paired). Otherwise each doc's
    * smallest partner — or, when the pairs already hold one partner
    * per doc (`oneRepPerDoc`), the distinct pairs themselves. */
  private def verdictsOf(pairs: DataFrame, transitive: Boolean,
      maxIter: Int, oneRepPerDoc: Boolean = false): DataFrame =
    if (transitive) componentMin(pairs.distinct(), maxIter)
    else if (oneRepPerDoc)
      pairs.distinct().withColumnRenamed("__rep_id", "__dup_of")
    else pairs.groupBy("__id").agg(min("__rep_id").as("__dup_of"))

  /** `df` with its verdict column: `__dup_of` left-joined on the id —
    * null for canonical docs. */
  private def joinVerdicts(df: DataFrame, idField: String,
      verdicts: DataFrame): DataFrame =
    df.join(verdicts, col(idField) === verdicts("__id"), "left")
      .drop("__id")
}
