package graft.operators

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import graft.expr.{ExprCompiler, FilterCompiler}
import graft.ops.SelectCompiler
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared post-processing for transforms: filter → select →
  * flattenField, the parameter trio most reference transforms share. */
object TransformCommon {
  def finish(df0: DataFrame, cfg: ModuleCfg): DataFrame = {
    var df = df0
    cfg.param("filter").orElse(cfg.param("filters")).foreach { f =>
      df = df.filter(FilterCompiler.compile(f, df.schema))
    }
    cfg.param("select").foreach(s => df = SelectCompiler(df, s))
    cfg.node.str("flattenField").orElse(cfg.params.str("flattenField"))
      .foreach(f => df = UnnestTransform.flatten(df, f))
    df
  }

  def single(cfg: ModuleCfg, inputs: Map[String, DataFrame]): DataFrame = {
    require(inputs.nonEmpty, s"module ${cfg.name} requires an input")
    inputs(cfg.inputs.head)
  }

  /** Persist-if-worth-it for frames a downstream plan references more
    * than once: an UNPINNED frame whose plan contains real computation
    * (joins, aggregates, generators, windows, distinct) re-executes
    * that whole pipeline once PER REFERENCE — the r21 plan audit found
    * a graph-over-knn recipe re-running its IVF self-join 28 times
    * (224 parquet scans in ONE physical plan, q132). A plain
    * scan/projection/filter frame is left alone: re-reading columnar
    * storage is what the format is for, and pinning it would trade
    * cheap IO for cache memory (guide §5: cache only when reused AND
    * recompute is the expensive side). Streaming frames and frames
    * already pinned pass through untouched.
    *
    * Cost guard (guide §5's third clause — cache only when cheaper
    * than recompute; the r22 fix for the q104 regression the
    * unguarded pin caused): multi-pass shapes (joins, generators)
    * always pin — their re-execution cost is a full upstream pass per
    * reference wherever AQE's exchange reuse misses. Single-exchange
    * shapes (a bare aggregate/window/distinct) pin only when the
    * optimizer estimates the frame past the broadcast threshold:
    * below it, the InMemoryRelation build + materialization barrier
    * costs more than the recompute AQE stage reuse already
    * deduplicates in-action (q104: three ~100-group aggregates pinned
    * = 0.57 s → 1.04-1.40 s across every r21 battery). Scale-safe by
    * construction: a 100 TB aggregate's estimated output blows past
    * the threshold and still pins. */
  def pinIfComputed(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    // withCachedData, not analyzed: an upstream trackPersist already
    // substituted its InMemoryRelation there, so a thin projection
    // over an already-cached aggregate does not re-pin
    lazy val plan = df.queryExecution.withCachedData
    def multiPass = plan.collectFirst {
      case _: lp.Join => true
      case _: lp.Generate => true
    }.isDefined
    def singleExchange = plan.collectFirst {
      case _: lp.Aggregate => true
      case _: lp.Window => true
      case _: lp.Distinct => true
      case _: lp.Deduplicate => true
    }.isDefined
    def bigEnough = df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold)
    if (!df.isStreaming &&
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
        (multiPass || (singleExchange && bigEnough)))
      graft.ops.CacheTracker.trackPersist(df)
    else df
  }

  /** Loud batch-only guard: a corpus-wide operator fed a streaming
    * frame would otherwise fail at SINK-START time with an opaque
    * Spark analysis error (or, worse, run with silently wrong
    * cross-batch semantics — pack's partition-local sequence ids).
    * `why` names the corpus-wide computation; `alternative` tells
    * the user what to do instead. */
  def requireBatch(df: DataFrame, module: String, name: String,
      why: String, alternative: String): Unit =
    require(!df.isStreaming,
      s"$module $name requires a bounded (batch) input: $why. " +
        s"$alternative")

  /** Stable full-row hash over every hashable column — the shared
    * deterministic tiebreaker for operators whose ordering would
    * otherwise be partition-dependent under duplicate sort keys
    * (sort shuffle/zorder ties, asof duplicate timestamps, reservoir
    * duplicate sample keys). Rows still tied after the hash are
    * bit-identical modulo map columns (Spark cannot hash MapType)
    * and therefore interchangeable. */
  def rowTie(df: DataFrame): Column = {
    def hashSafe(dt: DataType): Boolean = dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => hashSafe(f.dataType))
      case a: ArrayType => hashSafe(a.elementType)
      case _ => true
    }
    val tieCols = df.schema.fields
      .filter(f => hashSafe(f.dataType)).map(f => col(f.name)).toSeq
    if (tieCols.isEmpty) lit(0L) else xxhash64(tieCols: _*)
  }

  /** Scoped planner settings for iterative checkpoint-truncated
    * loops (pagerank, componentMin): run `body` with AQE off and the
    * shuffle-partition count derived from `df`'s optimizer size
    * estimate, restoring both confs after.
    *
    * Why AQE off: adaptive plans report UnknownPartitioning at the
    * per-round localCheckpoint boundary (measured r22 — the q109
    * LogicalRDD read `UnknownPartitioning(0)` with AQE on,
    * `hashpartitioning(vertex, N)` with it off), which forfeits the
    * co-partitioning an iterated join loop is built around — every
    * round re-exchanges or re-broadcasts both sides, paying a driver
    * collect round-trip per broadcast per round. AQE also has
    * nothing to adapt on here: the loop inputs are LogicalRDDs with
    * no stats.
    *
    * Why derived partitions: without AQE's coalescing, every tiny
    * per-round stage would otherwise pay the session's full
    * partition count in fixed task overhead × rounds. One partition
    * per estimated input split, capped at the session value — the
    * widen probe's arithmetic, scale-adaptive in both directions,
    * no constant tuned to local mode or the cluster. Plans with no
    * real stats (the defaultSizeInBytes sentinel) keep the session
    * count. */
  def withLoopPlanning[A](df: DataFrame)(body: => A): A = {
    val sess = df.sparkSession
    val conf = sess.sessionState.conf
    val parts = BigInt(conf.defaultNumShufflePartitions)
    val perSplit = BigInt(conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val loopParts =
      if (bytes >= BigInt(conf.defaultSizeInBytes)) parts
      else ((bytes + perSplit - 1) / perSplit).min(parts).max(BigInt(1))
    graft.ops.ConfScope(sess, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> loopParts.toString)(body)
  }

  /** Raise map-side parallelism when a batch input arrives in fewer
    * partitions than the cluster has cores — e.g. one small parquet
    * file is one split, which would serialize per-row CPU work
    * (UDFs, from_json, signature hashing) onto a single task. No-op
    * at scale, where a scan already carries far more splits than
    * cores, and on streaming frames. */
  def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // estimate split count from optimizer stats (file-listing size /
    // maxPartitionBytes) instead of df.rdd.getNumPartitions — the RDD
    // probe built the full physical plan AND its RDD DAG on the
    // driver per widen() call; stats come from the already-cached
    // logical optimization. Overestimating is harmless (skips a
    // repartition that big inputs don't need).
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perSplit = BigInt(df.sparkSession.sessionState.conf
      .filesMaxPartitionBytes)
    // plans with no real stats (LogicalRDD from mapPartitions outputs
    // — onnx/multimodal feeding dedup/similarity) report the
    // defaultSizeInBytes sentinel, which would silently skip the
    // repartition this probe exists to provide — fall back to the
    // partition-count probe for those
    val sentinel = BigInt(df.sparkSession.sessionState.conf
      .defaultSizeInBytes)
    val narrow =
      if (bytes >= sentinel) df.rdd.getNumPartitions < target
      else bytes < perSplit * target
    if (narrow) df.repartition(target) else df
  }

  /** Append/replace a binary payload column computed by a per-row
    * encoder over selected columns (avro/protobuf serialize share
    * this skeleton). `srcIdxs` entries of -1 feed null (for
    * descriptor fields with no matching column). */
  def encodePayload(df: DataFrame, srcIdxs: Array[Int],
      outField: String, encode: org.apache.spark.sql.Row => Array[Byte])
      : DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val replaceIdx = df.schema.fieldNames.indexOf(outField)
    val outSchema =
      if (replaceIdx >= 0) StructType(df.schema.fields.toSeq
        .updated(replaceIdx, StructField(outField, BinaryType)))
      else df.schema.add(outField, BinaryType)
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(outSchema))
    df.mapPartitions { it =>
      it.map { row =>
        val payload = encode(Row.fromSeq(
          srcIdxs.toSeq.map(i => if (i < 0) null else row.get(i))))
        Row.fromSeq(
          if (replaceIdx >= 0) row.toSeq.updated(replaceIdx, payload)
          else row.toSeq :+ payload)
      }
    }(enc)
  }

  /** Decode a binary column into a struct + `__bad` flag
    * (avro/protobuf deserialize share this skeleton); `decode`
    * returns null on failure and the shared dead-letter routing
    * downstream turns `__bad` into `.failures`. */
  def decodePayload(df: DataFrame, field: String, outField: String,
      recType: org.apache.spark.sql.types.StructType,
      decode: Array[Byte] => org.apache.spark.sql.Row): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, BooleanType, StructField, StructType}
    val fieldIdx = df.schema.fieldNames.indexOf(field)
    require(fieldIdx >= 0, s"deserialize: unknown field '$field'")
    require(df.schema(field).dataType == BinaryType,
      s"deserialize: field '$field' must be binary, got " +
        df.schema(field).dataType.simpleString)
    val replaceIdx = df.schema.fieldNames.indexOf(outField)
    val outSchema =
      (if (replaceIdx >= 0) StructType(df.schema.fields.toSeq
        .updated(replaceIdx, StructField(outField, recType)))
      else df.schema.add(outField, recType))
        .add("__bad", BooleanType)
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(outSchema))
    df.mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.isNullAt(fieldIdx)) null
          else row.getAs[Array[Byte]](fieldIdx)
        val rec = decode(bytes)
        val bad = bytes != null && rec == null
        Row.fromSeq(
          (if (replaceIdx >= 0) row.toSeq.updated(replaceIdx, rec)
          else row.toSeq :+ rec) :+ bad)
      }
    }(enc)
  }

  /** §2.11 routed variant of `finish` (reference `module/MErrorHandler`
    * breadth): with `outputFailure: true`, rows whose select steps
    * error (lossy cast / typed expression / bytes_decode nulling out a
    * non-null input) split to `<name>.failures` with `__error`;
    * `failFast: true` raises instead. Default keeps the legacy lenient
    * null-out, emitting no failures collection. */
  def finishRouted(df0: DataFrame, cfg: ModuleCfg): Map[String, DataFrame] = {
    var df = df0
    cfg.param("filter").orElse(cfg.param("filters")).foreach { f =>
      df = df.filter(FilterCompiler.compile(f, df.schema))
    }
    def flag(k: String) =
      cfg.node.bool(k).orElse(cfg.params.bool(k)).getOrElse(false)
    var failures: Option[DataFrame] = None
    cfg.param("select").foreach { s =>
      if (flag("failFast")) df = SelectCompiler.applyFailFast(df, s)
      else if (flag("outputFailure")) {
        val (m, f) = SelectCompiler.applyWithFailures(df, s)
        df = m; failures = Some(f)
      } else df = SelectCompiler(df, s)
    }
    cfg.node.str("flattenField").orElse(cfg.params.str("flattenField"))
      .foreach(f => df = UnnestTransform.flatten(df, f))
    Map(cfg.name -> df) ++
      failures.map(f => s"${cfg.name}.failures" -> f)
  }
}

/** `filter` transform (reference `module/transform/FilterTransform`):
  * condition tree + optional select + flatten. Compiles entirely to a
  * Catalyst Filter node → pushdown-eligible. */
object FilterTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    // FilterTransform.java:42 validation — a typo'd parameter key
    // must not silently pass every row through
    require(cfg.param("filter").orElse(cfg.param("filters"))
      .orElse(cfg.param("select")).isDefined,
      s"filter module ${cfg.name} requires filters or select " +
        s"(got: ${cfg.params.names.mkString(", ")})")
    TransformCommon.finishRouted(TransformCommon.single(cfg, inputs), cfg)
  }
}

/** `select` transform (reference `module/transform/SelectTransform`). */
object SelectTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    require(cfg.param("select").orElse(cfg.param("filter"))
      .orElse(cfg.param("filters")).isDefined,
      s"select module ${cfg.name} requires select " +
        s"(got: ${cfg.params.names.mkString(", ")})")
    var df = TransformCommon.single(cfg, inputs)
    // scrape/http steps are heavy per-row work (regex chains, remote
    // calls); a single-split input would serialize them onto one task
    // (q47: 2.5s of regex on one core). Plain projections never widen
    // — the exchange costs more than codegen'd column work saves.
    val heavy = cfg.param("select").exists(_.elems.exists(s =>
      s.str("func").exists(f => f == "scrape" || f == "http")))
    if (heavy) df = TransformCommon.widen(df)
    TransformCommon.finishRouted(df, cfg)
  }
}

/** `aggregation` transform (reference
  * `module/transform/AggregationTransform` + `util/pipeline/
  * Aggregation.java`): group-by on `groupFields` with per-input
  * aggregate op lists → `df.groupBy(...).agg(...)`. Partial (map-side)
  * aggregation and hot-key `fanout` are subsumed by Spark's
  * HashAggregateExec partial/final split + AQE skew handling. */
object AggregationTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val groupFields = cfg.params.strArr("groupFields")
    val defs = cfg.params.arrOf("aggregations")
    require(defs.nonEmpty, "aggregation requires aggregations parameter")
    // strategy block (SURVEY §2.9): window group column + watermark,
    // same window() semantics in batch and streaming
    val strategyNode = cfg.node("strategy").orElse(cfg.param("strategy"))
    strategyNode.foreach(
      graft.streaming.Strategy.warnUnknownKeys(_, cfg.name))

    var anyWindow = false
    val perInput: Seq[DataFrame] = defs.map { d =>
      val inName = d.str("input").getOrElse(cfg.inputs.head)
      // a typo'd input must fail loudly — falling back to the first
      // input would aggregate the wrong data with plausible numbers
      val df0 = inputs.getOrElse(inName,
        throw new IllegalArgumentException(
          s"aggregation ${cfg.name}: unknown input '$inName' " +
            s"(available: ${inputs.keys.toSeq.sorted.mkString(", ")})"))
      // heavy partial aggregates (exact percentile/median object
      // buffers, count_distinct's Expand) run in the SCAN stage —
      // over a one-split input the whole pass serializes onto one
      // task (r21: q80's expanded percentile partial took 5.0 s on
      // one core of 32; widened: 2.5 s). ONLY these ops widen: the
      // r21 A/B showed every fixed-size-buffer aggregate (sketches,
      // vector pooling, sums) LOSES to the added exchange on narrow
      // inputs (q114 kll 0.68→1.51 s, q87 hll 0.47→0.99 s), and
      // top_k_combine crashes outright on the empty partitions a
      // repartition of a tiny frame creates (Spark's
      // ApproxTopKCombine.serialize MatchError: null). widen is
      // stats-probed — a no-op for streams and for inputs already a
      // split per core wide.
      val heavyAggOps = Set("count_distinct", "median", "percentile")
      // ignore-filtered (r22 advice): an ignored field never compiles,
      // so it must not trigger the widen exchange either
      val hasHeavyAgg = d.arrOf("fields")
        .filterNot(_.bool("ignore").getOrElse(false))
        .exists(f =>
          f.str("op").orElse(f.str("func")).exists(heavyAggOps.contains))
      var df = if (hasHeavyAgg) TransformCommon.widen(df0) else df0
      var tsCol: Option[org.apache.spark.sql.Column] = None
      val windowCol = strategyNode.flatMap { st =>
        // watermark first: it casts the ts field to TimestampType in
        // place, so the window then references the bare watermarked
        // attribute (a cast wrapper would break watermark tracking)
        df = graft.streaming.Strategy.applyWatermark(df, st,
          st.str("timestampField").getOrElse("__event_time"))
        val ts = graft.streaming.Strategy.eventTimeCol(df, st)
        tsCol = ts
        // a declared non-global window with no resolvable event time
        // must fail loudly: silently dropping it would collapse all
        // time buckets into one global group with plausible numbers
        val declared = st("window").getOrElse(st)
          .str("type").filter(_ != "global")
        if (ts.isEmpty && declared.isDefined)
          throw new IllegalArgumentException(
            s"aggregation ${cfg.name}: strategy declares a " +
              s"'${declared.get}' window but input '$inName' has no " +
              "event time — set strategy.timestampField or provide " +
              "an __event_time column")
        ts.flatMap(t => graft.streaming.Strategy.windowGroup(st, t,
          df.isStreaming))
      }
      if (windowCol.isDefined) anyWindow = true
      val groupCols =
        windowCol.map(_.column.as("window")).toSeq ++ groupFields.map(col)
      val fieldNodes = d.arrOf("fields")
        .filterNot(_.bool("ignore").getOrElse(false))
      val aggCols = fieldNodes
        .map(AggregationCompiler.compile(_, df.schema))
      // timestampCombiner (reference Strategy.java:72-73, Beam
      // TimestampCombiner): stamps the aggregate's OUTPUT event time
      // as `__event_time`, which downstream modules pick up for
      // re-windowing. EARLIEST/LATEST aggregate the input timestamps
      // alongside the declared fields; END_OF_WINDOW is the window's
      // max timestamp (end − 1 ms, Beam's maxTimestamp — window.end
      // itself belongs to the NEXT window). Unset = no stamp, the
      // window struct stays the only time authority.
      val combiner = strategyNode.flatMap(_.str("timestampCombiner"))
        .map(_.toUpperCase)
      combiner.foreach { c =>
        require(Set("EARLIEST", "LATEST", "END_OF_WINDOW")(c),
          s"timestampCombiner: $c (valid: EARLIEST, LATEST, " +
            "END_OF_WINDOW)")
        require(defs.size == 1,
          "timestampCombiner requires a single-input aggregation " +
            "(multi-input merges have no per-element timestamp)")
        require(windowCol.isDefined && tsCol.isDefined,
          "timestampCombiner requires a non-global window with a " +
            "resolvable event time")
      }
      val extraAgg = combiner match {
        case Some("EARLIEST") => Seq(min(tsCol.get).as("__event_time"))
        case Some("LATEST") => Seq(max(tsCol.get).as("__event_time"))
        case _ => Nil
      }
      val allAgg = aggCols ++ extraAgg
      // parity-plus (SURVEY §2.6: "no grouping sets / cube / rollup
      // anywhere in the reference", free on Catalyst): `groupType:
      // rollup|cube` or explicit `groupingSets: [[a,b],[a],[]]`
      // subtotal lattices in ONE pass over the input (Expand node —
      // no per-level rescan), with `__grouping_id` disambiguating
      // subtotal rows from genuine null group values
      val groupMode = cfg.params.str("groupType")
      val setsParam = cfg.params.arrOf("groupingSets")
        .map(_.elems.map(_.asText))
      val agged =
        if (groupMode.exists(_ != "groupBy") || setsParam.nonEmpty) {
          require(windowCol.isEmpty,
            s"aggregation ${cfg.name}: groupType/groupingSets cannot " +
              "combine with a window strategy (subtotal rows have no " +
              "single window)")
          require(defs.size == 1,
            s"aggregation ${cfg.name}: groupType/groupingSets require " +
              "a single-input aggregation (subtotal rows cannot merge " +
              "on the full group key)")
          val grouped = groupMode match {
            case Some("rollup") => df.rollup(groupCols: _*)
            case Some("cube") => df.cube(groupCols: _*)
            case None | Some("groupingSets") =>
              require(setsParam.nonEmpty,
                s"aggregation ${cfg.name}: groupingSets requires a " +
                  "non-empty list of group-field subsets")
              setsParam.flatten.foreach(f => require(
                groupFields.contains(f),
                s"aggregation ${cfg.name}: groupingSets field '$f' " +
                  s"is not in groupFields ${groupFields.mkString(",")}"))
              df.groupingSets(setsParam.map(_.map(col)), groupCols: _*)
            case Some(other) => throw new IllegalArgumentException(
              s"aggregation ${cfg.name}: groupType '$other' (valid: " +
                "groupBy, rollup, cube, groupingSets)")
          }
          val withGid = allAgg :+ grouping_id().as("__grouping_id")
          grouped.agg(withGid.head, withGid.tail: _*)
        } else {
          // exact percentile/median object buffers must not ride the
          // count_distinct Expand: with both in ONE aggregate, Spark
          // keys the partial object aggregate by (group, gid,
          // distinct-key) — the key count explodes past the
          // object-hash fallback threshold and the whole expanded
          // input sort-aggregates with percentile buffers (q80's
          // plan: Expand ×3 over 600k rows into an ObjectHashAggregate
          // keyed per l_partkey). With both classes present, compile
          // the distinct ops as their OWN aggregate over the same
          // grouping and join back on the null-safe group key: the
          // percentile side keeps its natural per-group object
          // aggregate (no Expand), the distinct side keeps its
          // hash-only Expand, and the join pairs group-count-sized
          // frames. Both classes are deterministic, so the result is
          // value-identical (q80 re-proven against the oracle at both
          // SFs). Batch only — a second streaming aggregate + join
          // would be an illegal stream-stream shape.
          def opOf(n: com.fasterxml.jackson.databind.JsonNode): String =
            n.str("op").orElse(n.str("func")).getOrElse("")
          def isDistinctOp(n: com.fasterxml.jackson.databind.JsonNode) = opOf(n) == "count_distinct"
          def isObjOp(n: com.fasterxml.jackson.databind.JsonNode) = opOf(n) == "median" ||
            (opOf(n) == "percentile" &&
              !n.bool("approximate").getOrElse(false))
          val split = !df.isStreaming &&
            fieldNodes.exists(isDistinctOp) && fieldNodes.exists(isObjOp)
          if (!split) {
            if (groupCols.nonEmpty)
              df.groupBy(groupCols: _*).agg(allAgg.head, allAgg.tail: _*)
            else df.agg(allAgg.head, allAgg.tail: _*)
          } else {
            // each compiled aggregate gets a unique internal alias
            // (r22 advice): with duplicate declared names (two
            // unnamed count_distinct ops) a nameOf lookup on the
            // joined sides would be ambiguous; positional aliases
            // never collide, and the final select restores the
            // declared names in spec order
            val pairs = fieldNodes.zip(aggCols).zipWithIndex
              .map { case ((n, c), i) => (n, c.as(s"__agg_$i"), i) }
            val (dPairs, mPairs) = pairs.partition(p => isDistinctOp(p._1))
            val mAgg = mPairs.map(_._2) ++ extraAgg
            val dAgg = dPairs.map(_._2)
            val keyNames =
              (if (windowCol.isDefined) Seq("window") else Nil) ++
                groupFields
            val (a, b) =
              if (groupCols.nonEmpty)
                (df.groupBy(groupCols: _*).agg(mAgg.head, mAgg.tail: _*),
                  df.groupBy(groupCols: _*).agg(dAgg.head, dAgg.tail: _*))
              else (df.agg(mAgg.head, mAgg.tail: _*),
                df.agg(dAgg.head, dAgg.tail: _*))
            val joined =
              if (keyNames.isEmpty) a.crossJoin(b)
              else a.join(b,
                keyNames.map(k => a(k) <=> b(k)).reduce(_ && _),
                "inner")
            def nameOf(n: com.fasterxml.jackson.databind.JsonNode): String =
              n.str("name").getOrElse(opOf(n))
            // restore the declared output order exactly: group keys,
            // then every aggregate in spec order (from whichever side
            // computed it), then the combiner stamp
            val outCols = keyNames.map(a(_)) ++
              pairs.map { case (n, _, i) =>
                (if (isDistinctOp(n)) b(s"__agg_$i") else a(s"__agg_$i"))
                  .as(nameOf(n)) } ++
              (if (extraAgg.nonEmpty) Seq(a("__event_time")) else Nil)
            joined.select(outCols: _*)
          }
        }
      // streaming calendar buckets post-project the session struct to
      // the true bucket boundaries (identity for every other window)
      val posted = windowCol.map(_.post(agged)).getOrElse(agged)
      combiner match {
        case Some("END_OF_WINDOW") =>
          val isStruct = posted.schema("window").dataType
            .isInstanceOf[org.apache.spark.sql.types.StructType]
          val end =
            if (isStruct) col("window.end")
            else graft.streaming.Strategy.calendarEndOf(
              strategyNode.get, col("window"))
          posted.withColumn("__event_time",
            end - expr("INTERVAL 1 MILLISECOND"))
        case _ => posted
      }
    }
    // multi-input: merge per-input aggregates on the FULL group key —
    // including the window column when a strategy produced one, or
    // rows from unrelated windows would cross-pair and the result
    // would carry two ambiguous 'window' columns
    val mergeKeys =
      (if (anyWindow) Seq("window") else Nil) ++ groupFields
    val merged = perInput.reduceLeft { (a, b) =>
      if (mergeKeys.nonEmpty) a.join(b, mergeKeys, "full_outer")
      else a.crossJoin(b)
    }
    val routed = TransformCommon.finishRouted(merged, cfg)
    // post-aggregation `limit` is a full Limit config in the reference
    // (AggregationTransform.java:181-186 routes through the Limit
    // util): per-key top/first-N when keyFields/orderField are given,
    // plain limit(n) otherwise
    val result = cfg.param("limit").map { l =>
      val limited = LimitTransform.build(spark,
        ModuleCfg(cfg.name, "limit", Seq("__agg"), Nil, l,
          graft.config.Json.obj()),
        Map("__agg" -> routed(cfg.name)))(cfg.name)
      routed.updated(cfg.name, limited)
    }.getOrElse(routed)
    // discarding-pane recipe (PaneRecipes): a single-input streaming
    // aggregation also registers how to redo itself over a BATCH of
    // raw input — StreamRunner uses it to emit true Beam discarding
    // panes (each pane = aggregate of only the elements since the
    // last firing) by re-aggregating each micro-batch instead of
    // running a stateful streaming aggregate. Multi-input merges and
    // post-agg limits have no per-pane semantics, so they simply
    // don't register and a discarding sink fails actionably.
    if (merged.isStreaming && defs.size == 1 && cfg.param("limit").isEmpty) {
      val d = defs.head
      val raw = inputs(d.str("input").getOrElse(cfg.inputs.head))
      val reAgg: DataFrame => DataFrame = { batch =>
        val wc = strategyNode.flatMap { st =>
          graft.streaming.Strategy.eventTimeCol(batch, st)
            .flatMap(t => graft.streaming.Strategy.windowGroup(st, t,
              streaming = false))
        }
        val gcols =
          wc.map(_.column.as("window")).toSeq ++ groupFields.map(col)
        val acols = d.arrOf("fields")
          .filterNot(_.bool("ignore").getOrElse(false))
          .map(AggregationCompiler.compile(_, batch.schema))
        val agged =
          if (gcols.nonEmpty)
            batch.groupBy(gcols: _*).agg(acols.head, acols.tail: _*)
          else batch.agg(acols.head, acols.tail: _*)
        TransformCommon.finishRouted(
          wc.map(_.post(agged)).getOrElse(agged), cfg)(cfg.name)
      }
      // calendar buckets re-aggregate to a SCALAR start column; hand
      // the pane engines this aggregation's OWN end derivation
      // (calendarEndOf covers every shape: simple units, anchored,
      // N-unit, week-offset) so they can rebuild the {start, end}
      // struct their frontier bookkeeping keys on
      val windowEndOf = strategyNode
        .filter(st => st("window").getOrElse(st).str("type")
          .contains("calendar"))
        .map(st => (c: org.apache.spark.sql.Column) =>
          graft.streaming.Strategy.calendarEndOf(st, c))
      graft.streaming.PaneRecipes.register(result(cfg.name), raw, reAgg,
        keys = groupFields, windowEndOf = windowEndOf,
        elementEndOf = strategyNode.flatMap(
          graft.streaming.Strategy.elementRetainEnd),
        elementEndExact = strategyNode.exists(
          graft.streaming.Strategy.elementEndIsWindowEnd),
        elementGrid = strategyNode.flatMap(
          graft.streaming.Strategy.slidingEndGrid))
    }
    result
  }
}

/** `partition` transform (reference `module/transform/
  * PartitionTransform`): route rows to named outputs by filter; one
  * filtered child DataFrame per partition from the same parent scan
  * (Catalyst reuses the scan). Outputs are `<module>.<partition>`,
  * plus per-partition select. `exclusive` routes each row to the
  * first matching partition only. */
object PartitionTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val df = TransformCommon.single(cfg, inputs)
    val parts = cfg.params.arrOf("partitions")
    require(parts.nonEmpty,
      s"partition module ${cfg.name} requires partitions: [...] " +
        s"(got: ${cfg.params.names.mkString(", ")})")
    val exclusive = cfg.params.bool("exclusive").getOrElse(true)
    val conds = parts.map(p =>
      p("filter").map(FilterCompiler.compile(_, df.schema))
        .getOrElse(lit(true)))
    val out = scala.collection.mutable.Map[String, DataFrame]()
    var prior: Column = lit(false)
    parts.zip(conds).foreach { case (p, cond) =>
      val pname = p.str("name").getOrElse(
        throw new IllegalArgumentException("partition requires name"))
      val eff = if (exclusive) cond && !prior else cond
      var child = df.filter(eff)
      p("select").foreach(s => child = SelectCompiler(child, s))
      p.str("flattenField").foreach(f =>
        child = UnnestTransform.flatten(child, f))
      // per-partition SQL (`Partition.java:116-120`: the filtered rows
      // register under the partition's name; reference runs embedded
      // Calcite, here Catalyst via spark.sql)
      p.str("sql").foreach { sql =>
        child.createOrReplaceTempView(pname)
        child = spark.sql(sql)
      }
      out += s"${cfg.name}.$pname" -> child
      // `defaults` must exclude every partition's matches in BOTH
      // modes; only row ROUTING is exclusive-dependent
      prior = prior || coalesce(cond, lit(false))
    }
    // default output: rows matching no partition
    out += s"${cfg.name}.defaults" -> df.filter(!prior)
    out += cfg.name -> out(s"${cfg.name}.${parts.head.str("name").get}")
    out.toMap
  }
}

/** `union` transform (reference `util/pipeline/Union.java`): n-ary
  * by-name union over the super-schema; `mappings` rename table. */
/** `sort` transform (parity-plus: the reference has no order-by
  * operator — SURVEY §2.8 "expose as config"). Modes:
  *
  *  - `range` (default): `repartitionByRange` + sort within
  *    partitions — the data-AT-REST layout op: files written from
  *    this frame carry tight per-file min/max on the sort keys, so
  *    later scans with key predicates prune whole files. Total
  *    ordering across partition boundaries, no single-task funnel.
  *  - `withinPartitions`: no shuffle, per-partition order only.
  *  - `global`: `orderBy` — Catalyst's range-partitioned total sort
  *    (same plan shape as `range`; kept for explicitness).
  *  - `shuffle`: deterministic corpus shuffle — total order by
  *    `md5(seed + fields)`, the standard pre-training randomization
  *    (seed-reproducible across runs AND engines, unlike
  *    `orderBy(rand())`; change `seed` per epoch). Same range
  *    partitioning as `range`, so no funnel.
  *  - `zorder`: multi-dimensional clustering — fields scale to
  *    `bits`-bit fixed-point ranks that bit-interleave into one
  *    z-key, range-sorted; written files then prune on min/max stats
  *    for filters on ANY declared dimension.
  */
object SortTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val df = TransformCommon.single(cfg, inputs)
    require(!df.isStreaming,
      s"sort ${cfg.name}: a stream has no total order — sort inside " +
        "a foreachBatch sink or a windowed batch stage")
    val p = cfg.params
    val fields = p.arrOf("fields").map { f =>
      val c = col(f.str("field").orElse(f.str("name")).getOrElse(
        throw new IllegalArgumentException(
          s"sort ${cfg.name}: each fields entry needs field")))
      f.str("order").getOrElse("ascending") match {
        case "descending" | "desc" => c.desc
        case _ => c.asc
      }
    }
    require(fields.nonEmpty, s"sort ${cfg.name} requires fields")
    val partitions = p.int("numPartitions")
    val out = p.str("mode").getOrElse("range") match {
      case "withinPartitions" => df.sortWithinPartitions(fields: _*)
      case "global" => df.orderBy(fields: _*)
      case "range" =>
        val ranged = partitions
          .map(n => df.repartitionByRange(n, fields: _*))
          .getOrElse(df.repartitionByRange(fields: _*))
        ranged.sortWithinPartitions(fields: _*)
      case "shuffle" =>
        val seed = p.str("seed").getOrElse("0")
        val idCols = p.arrOf("fields").map(f =>
          f.str("field").orElse(f.str("name")).get)
        val key = md5(concat_ws("",
          lit(seed) +: idCols.map(c => col(c).cast(StringType)): _*))
        // rows sharing identical key-field values tie on the md5 and
        // would land in partition-nondeterministic relative order; the
        // shared full-row hash tiebreaks the within-partition sort so
        // the seeded permutation is reproducible even when `fields`
        // does not uniquely identify rows
        val tie = TransformCommon.rowTie(df)
        val ranged = partitions
          .map(n => df.repartitionByRange(n, key.asc))
          .getOrElse(df.repartitionByRange(key.asc))
        ranged.sortWithinPartitions(key.asc, tie.asc)
      case "zorder" =>
        // multi-dimensional layout clustering: each field scales to a
        // `bits`-bit fixed-point rank, ranks bit-interleave into one
        // long z-key, and the frame range-sorts on it — written files
        // then carry locality in EVERY declared dimension, so min/max
        // row-group stats prune scans filtered on any of them (the
        // single-column range mode prunes only its leading field).
        // Declare per-field min/max at scale (domain bounds are
        // metadata); omitted bounds cost one bounded stats pass.
        // Pure Column bit arithmetic — stays inside whole-stage
        // codegen, no UDF, no custom expression needed.
        val zf = p.arrOf("fields")
        require(zf.size >= 2,
          s"sort ${cfg.name}: zorder needs >= 2 fields (one field is " +
            "plain range mode)")
        val bits = p.int("bits").getOrElse(16)
        require(bits >= 1 && bits * zf.size <= 63,
          s"sort ${cfg.name}: bits * fields = ${bits * zf.size} must " +
            "fit a long (<= 63)")
        val maxv = math.pow(2d, bits) - 1d
        val names = zf.map(f =>
          f.str("field").orElse(f.str("name")).getOrElse(
            throw new IllegalArgumentException(
              s"sort ${cfg.name}: each zorder fields entry needs field")))
        // one stats pass covers every bound left undeclared — a
        // half-declared field keeps its declared side and derives
        // only the missing one
        val needStats = zf.zip(names).collect {
          case (f, name) if f.dbl("min").isEmpty || f.dbl("max").isEmpty =>
            name
        }
        val stats: Map[String, (Double, Double)] =
          if (needStats.isEmpty) Map.empty
          else {
            val aggs = needStats.flatMap(n => Seq(
              min(col(n).cast(DoubleType)), max(col(n).cast(DoubleType))))
            val r = df.agg(aggs.head, aggs.tail: _*).head()
            needStats.zipWithIndex.map { case (n, i) =>
              require(!r.isNullAt(2 * i) && !r.isNullAt(2 * i + 1),
                s"sort ${cfg.name}: cannot derive zorder bounds for " +
                  s"$n (empty input, all-null, or non-numeric values " +
                  "— declare min/max explicitly)")
              n -> (r.getDouble(2 * i), r.getDouble(2 * i + 1))
            }.toMap
          }
        val scaled = zf.zip(names).map { case (f, name) =>
          val c = col(name).cast(DoubleType)
          val mn = f.dbl("min").getOrElse(stats(name)._1)
          val mx = f.dbl("max").getOrElse(stats(name)._2)
          require(mx >= mn,
            s"sort ${cfg.name}: zorder field $name has max < min")
          if (mx == mn) lit(0L)
          else least(greatest(
              floor((c - lit(mn)) * lit(maxv) / lit(mx - mn)), lit(0d)),
            lit(maxv)).cast(LongType)
        }
        val nf = scaled.size
        // z bit (level*nf + nf-1-j) = bit `level` of field j: the
        // FIRST declared field owns the more significant bit at each
        // level (mirrored verbatim by the q95 oracle SQL)
        var zkey: Column = lit(0L)
        for (level <- 0 until bits; (sc, j) <- scaled.zipWithIndex)
          zkey = zkey.bitwiseOR(shiftleft(
            shiftright(sc, level).bitwiseAND(lit(1L)),
            level * nf + (nf - 1 - j)))
        // deterministic total order: z-key ties break on the declared
        // fields in order, then any `tiebreakFields` (trailing sort
        // columns NOT interleaved into the key — declare a unique id
        // here for a replayable order), then the shared full-row hash
        // so rows duplicated in every clustered dimension still land
        // in a partition-independent order
        val tieFields = p.strArr("tiebreakFields")
          .filterNot(names.contains)
        val zsort = (zkey.asc +: (names ++ tieFields).map(col(_).asc)) :+
          TransformCommon.rowTie(df).asc
        val zranged = partitions
          .map(n => df.repartitionByRange(n, zsort: _*))
          .getOrElse(df.repartitionByRange(zsort: _*))
        zranged.sortWithinPartitions(zsort: _*)
      case other => throw new IllegalArgumentException(
        s"sort mode: $other (valid: range, withinPartitions, " +
          "global, shuffle, zorder)")
    }
    TransformCommon.finishRouted(out, cfg)
  }
}

/** `pivot` transform (parity-plus: the reference has no pivot; free
  * on Catalyst): group rows, spread one field's values into columns,
  * aggregate the rest — `df.groupBy(...).pivot(...).agg(...)` with
  * the aggregation module's op configs. Declare `values` explicitly
  * at scale: without them Spark first runs a distinct scan over the
  * pivot field (and caps it at spark.sql.pivotMaxValues); with them
  * the plan is a single pass. Output columns are `<value>_<aggName>`
  * (or just `<value>` for a single unnamed-friendly aggregate,
  * Spark's convention). */
object PivotTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val df = TransformCommon.single(cfg, inputs)
    val p = cfg.params
    val groupFields = p.strArr("groupFields")
    val pivotField = p.str("pivotField").getOrElse(
      throw new IllegalArgumentException(
        s"pivot ${cfg.name} requires pivotField"))
    val values = p.arrOf("values").map(graft.config.Json.scalar)
    val aggDefs = p.arrOf("aggregations")
    require(aggDefs.nonEmpty,
      s"pivot ${cfg.name} requires aggregations (op configs, same " +
        "grammar as the aggregation module)")
    val aggCols = aggDefs.map { d =>
      AggregationCompiler.compile(d, df.schema)
    }
    val grouped = df.groupBy(groupFields.map(col): _*)
    val pivoted =
      if (values.nonEmpty) grouped.pivot(pivotField, values)
      else grouped.pivot(pivotField)
    val out = pivoted.agg(aggCols.head, aggCols.tail: _*)
    TransformCommon.finishRouted(out, cfg)
  }
}

/** `unpivot` transform (parity-plus): melt wide columns into
  * (variable, value) rows — `Dataset.unpivot`, a zero-shuffle
  * Expand. `valueFields` empty = every non-id column. */
object UnpivotTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val df = TransformCommon.single(cfg, inputs)
    val p = cfg.params
    val ids = p.strArr("idFields")
    require(ids.nonEmpty,
      s"unpivot ${cfg.name} requires idFields")
    val vals = p.strArr("valueFields")
    val varName = p.str("variableField").getOrElse("variable")
    val valName = p.str("valueField").getOrElse("value")
    val out =
      if (vals.nonEmpty)
        df.unpivot(ids.map(col).toArray, vals.map(col).toArray,
          varName, valName)
      else df.unpivot(ids.map(col).toArray, varName, valName)
    TransformCommon.finishRouted(out, cfg)
  }
}

object UnionTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val mappings: Map[String, Map[String, String]] = // input -> (out <- in)
      cfg.params.arrOf("mappings").flatMap { m =>
        val outField = m.str("outputField").get
        m.arrOf("inputs").map(i =>
          (i.str("input").get, (outField, i.str("field").get)))
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toMap }

    val withIdx = cfg.inputs.zipWithIndex.map { case (n, i) =>
      var df = inputs(n)
      mappings.getOrElse(n, Map.empty).foreach { case (out, in) =>
        df = df.withColumn(out, col(in))
      }
      df.withColumn("__source_index", lit(i))
        .withColumn("__source_name", lit(n))
    }
    var unioned = withIdx.reduceLeft(
      _.unionByName(_, allowMissingColumns = true))
    // keyed union (Union.java:234-326 UnionWithKey): a group key built
    // from commonFields rides along for downstream keyed stages.
    // Joined with '#' like the reference SchemaUtil.createGroupKeysFunction,
    // nulls coalesced to "" so field positions survive: concat_ws
    // silently drops nulls (colliding ("a",null,"b") with ("a","b")).
    val keyFields = cfg.params.strArr("keyFields") ++
      cfg.params.strArr("commonFields")
    if (keyFields.nonEmpty)
      unioned = unioned.withColumn("__union_key",
        concat_ws("#", keyFields.map(f =>
          coalesce(col(f).cast(StringType), lit(""))): _*))
    TransformCommon.finishRouted(unioned, cfg)
  }
}

/** `unnest`/flatten (reference `util/pipeline/Unnest.java:25-78` +
  * `transform/UnnestTransform.java`): `explode_outer` per array field
  * (empty array → one row with null, as the reference), nested-struct
  * `path` flatten with optional prefix. */
object UnnestTransform {
  def flatten(df: DataFrame, field: String): DataFrame =
    df.withColumn(field, explode_outer(col(field)))

  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    // flattenField itself is handled once by TransformCommon.finish
    var df = TransformCommon.single(cfg, inputs)
    cfg.params.str("path").foreach { path =>
      val prefix = cfg.params.bool("prefix").getOrElse(false)
      df.schema.find(_.name == path).map(_.dataType) match {
        case Some(ArrayType(_, _)) =>
          df = flatten(df, path)
          df.schema.find(_.name == path).map(_.dataType) match {
            case Some(st: StructType) => df = expand(df, path, st, prefix)
            case _ =>
          }
        case Some(st: StructType) => df = expand(df, path, st, prefix)
        case _ =>
      }
    }
    TransformCommon.finishRouted(df, cfg)
  }

  private def expand(df: DataFrame, path: String, st: StructType,
      prefix: Boolean): DataFrame = {
    val others = df.columns.filterNot(_ == path).map(col).toSeq
    val nested = st.fieldNames.toSeq.map(f =>
      col(s"$path.$f").as(if (prefix) s"${path}_$f" else f))
    df.select(others ++ nested: _*)
  }
}

/** `lookup` transform (reference `module/transform/LookupTransform
  * .java:104-115`): broadcast-map join against small side inputs —
  * `df.join(broadcast(side), keys, "left")`, the Spark-native form of
  * Beam's side-input singleton view. */
object LookupTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    var df = TransformCommon.single(cfg, inputs)
    val sideNames = cfg.node.strArr("sideInputs")
    // Side inputs are small by the reference's contract, but an
    // unconditional broadcast() OOMs the driver on a mis-sized side
    // table. Broadcast only under the (configurable) threshold; above
    // it fall back to a plain join and let Catalyst/AQE pick the
    // strategy from runtime stats.
    val threshold = cfg.params.long("broadcastThreshold")
      .getOrElse(256L * 1024 * 1024)
    def maybeBroadcast(s: DataFrame): DataFrame = {
      val est = s.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= threshold) broadcast(s) else s
    }
    cfg.params.arrOf("lookups").foreach { lk =>
      val sideName = lk.str("sideInput")
        .orElse(lk.str("input")).getOrElse(sideNames.head)
      val side = inputs.getOrElse(sideName,
        throw new IllegalArgumentException(
          s"lookup side input $sideName not in inputs " +
            s"(add it to the module's inputs or sideInputs)"))
      val keyField = lk.str("keyField").get
      val sideKey = lk.str("sideKeyField").getOrElse(keyField)
      val flatten = lk.bool("flatten").getOrElse(false)
      val outName = lk.str("name").getOrElse(sideName)
      if (flatten) {
        // flatten looked-up fields directly into the row; side columns
        // colliding with main columns get the lookup-name prefix so
        // the join can't produce ambiguous references
        val mainCols = df.columns.toSet
        val renamed = side.columns.filterNot(_ == sideKey).foldLeft(side) {
          (s, c) =>
            if (mainCols.contains(c)) s.withColumnRenamed(c, s"${outName}_$c")
            else s
        }
        df = df.join(maybeBroadcast(renamed),
          df(keyField) === renamed(sideKey), "left")
          .drop(renamed(sideKey))
      } else {
        val sideStruct = side.select(col(sideKey).as("__lk_key"),
          struct(side.columns.filterNot(_ == sideKey).map(col).toSeq: _*)
            .as(outName))
        df = df.join(maybeBroadcast(sideStruct),
          df(keyField) === sideStruct("__lk_key"), "left")
          .drop("__lk_key")
      }
    }
    TransformCommon.finishRouted(df, cfg)
  }
}

/** `compare` transform (reference `module/transform/CompareTransform
  * .java:41-157`): full-outer co-group on primaryKeyFields across two
  * inputs, emitting per-key match/onlyLeft/onlyRight/field-diff rows. */
object CompareTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val keys = cfg.params.strArr("primaryKeyFields")
    require(keys.nonEmpty, "compare requires primaryKeyFields")
    require(cfg.inputs.size >= 2, "compare requires 2 inputs")
    val (ln, rn) = (cfg.inputs(0), cfg.inputs(1))
    val l = inputs(ln)
    val r = inputs(rn)
    val commonCols =
      l.columns.toSeq.filterNot(keys.contains)
        .intersect(r.columns.toSeq.filterNot(keys.contains))
    val lt = l.select(keys.map(col) ++ Seq(struct(
      commonCols.map(col): _*).as("__l")): _*)
    val rt = r.select(keys.map(col) ++ Seq(struct(
      commonCols.map(col): _*).as("__r")): _*)
    val joined = lt.join(rt, keys, "full_outer")
      .withColumn("__diffs", filter(array(commonCols.map { c =>
        when(!(col(s"__l.$c") <=> col(s"__r.$c")),
          concat_ws(":", lit(c),
            coalesce(col(s"__l.$c").cast(StringType), lit("null")),
            coalesce(col(s"__r.$c").cast(StringType), lit("null"))))
      }: _*), _.isNotNull)) // computed once, referenced twice below
    val out = joined.select(
      keys.map(col) :+
        when(col("__l").isNull, lit("only_" + rn))
          .when(col("__r").isNull, lit("only_" + ln))
          .when(size(col("__diffs")) === 0, lit("match"))
          .otherwise(lit("difference")).as("result") :+
        col("__diffs").as("differences"): _*)
    TransformCommon.finishRouted(out, cfg)
  }
}

/** `limit` (reference `util/pipeline/Limit.java:38-66,102-135`):
  * global count limit, global ordered top-k, or per-key first/top-N.
  *
  * Reference semantics: per key, rows are event-time sorted
  * (@RequiresTimeSortedInput), rows before `outputStartAt` are
  * dropped, then the first `count` rows emit (order: ascending).
  * `order: descending` gives latest-N/top-k instead. Batch → a
  * row_number window; streaming → a keyed stateful counter
  * (flatMapGroupsWithState) carrying the emitted-count across
  * micro-batches. */
object LimitTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    var df = TransformCommon.single(cfg, inputs)
    val p = cfg.params
    val n = p.int("count").getOrElse(10)
    val keys = p.strArr("keyFields") ++ p.strArr("fields")
    val orderFields = p.str("orderField").toSeq ++ p.strArr("orderFields")
    // default ascending = reference Limit.java first-N semantics;
    // `order: descending` gives latest-N/top-k
    val asc = p.str("order").forall(o =>
      o.toLowerCase(java.util.Locale.ROOT).startsWith("asc"))
    p.str("outputStartAt").foreach { at =>
      val ts = orderFields.headOption.map(col)
        .getOrElse(col("__event_time"))
      df = df.filter(ts >= to_timestamp(lit(at)))
    }
    val out =
      if (df.isStreaming && keys.nonEmpty)
        streamingLimit(df, keys, orderFields, n, asc)
      else if (df.isStreaming && orderFields.nonEmpty)
        // global ordered top-k on a stream: Spark rejects orderBy on
        // unbounded frames, so funnel through the keyed stateful
        // top-k under one synthetic key (global state is inherently
        // single-keyed; n is contract-small)
        streamingLimit(df.withColumn("__gl", lit(1)),
          Seq("__gl"), orderFields, n, asc).drop("__gl")
      else if (keys.isEmpty && orderFields.nonEmpty)
        // global top-k: TakeOrderedAndProject — no full sort
        df.orderBy(orderFields.map(f =>
          if (asc) col(f).asc else col(f).desc): _*).limit(n)
      else if (keys.isEmpty) df.limit(n)
      else {
        val order =
          if (orderFields.nonEmpty) orderFields.map(f =>
            if (asc) col(f).asc else col(f).desc)
          else if (df.columns.contains("__event_time"))
            Seq(if (asc) col("__event_time").asc
              else col("__event_time").desc)
          else Seq(monotonically_increasing_id().asc)
        df.withColumn("__rn",
            row_number().over(Window.partitionBy(keys.map(col): _*)
              .orderBy(order: _*)))
          .filter(col("__rn") <= n).drop("__rn")
      }
    TransformCommon.finishRouted(out, cfg)
  }

  /** Streaming per-key first-N: stateful emitted-count per key; rows
    * within a micro-batch sort by the order field (the documented
    * approximation of @RequiresTimeSortedInput, SURVEY §7.4.2). */
  private def streamingLimit(df: DataFrame, keys: Seq[String],
      orderFields: Seq[String], n: Int, asc: Boolean): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val schema = df.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val ordIdx = orderFields.headOption.map(schema.fieldIndex)
      .orElse(if (schema.fieldNames.contains("__event_time"))
        Some(schema.fieldIndex("__event_time")) else None)
    implicit val outEnc = ExpressionEncoder(RowEncoder.encoderFor(schema))
    implicit val stateEnc = Encoders.scalaInt
    df.groupByKey(row =>
        keyIdx.map(i => String.valueOf(row.get(i))).mkString("\u0001"))(
        Encoders.STRING)
      .flatMapGroupsWithState[Int, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state: GroupState[Int]) =>
          var emitted = state.getOption.getOrElse(0)
          // microsecond precision: a millisecond key made same-ms
          // rows tie and the within-batch sort nondeterministic at
          // the first-N boundary
          def sortKey(r: Row): Long = ordIdx.map(oi => r.get(oi) match {
            case t: java.sql.Timestamp =>
              t.getTime * 1000L + (t.getNanos / 1000) % 1000
            case t: java.time.Instant =>
              t.toEpochMilli * 1000L + (t.getNano / 1000) % 1000
            case t: java.time.LocalDateTime => // TimestampNTZ rows
              t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli *
                1000L + (t.getNano / 1000) % 1000
            case num: Number => num.longValue()
            case null => 0L
            case other => throw new IllegalArgumentException(
              "streaming limit orderField must be numeric or timestamp, " +
                s"got ${other.getClass.getSimpleName}")
          }).getOrElse(0L)
          val sorted = ordIdx match {
            case Some(_) =>
              val s = rows.toSeq.sortBy(sortKey)
              if (asc) s else s.reverse
            case None => rows.toSeq
          }
          val out = sorted.take(math.max(0, n - emitted))
          emitted += out.size
          state.update(emitted)
          out.iterator
      }.toDF()
  }
}

/** `set` — intersect/except/distinct-union (parity-plus: the
  * reference has no set operators, SURVEY §2.8; free in Spark). */
object SetTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    require(cfg.inputs.size >= 2, "set module requires 2+ inputs")
    val dfs = cfg.inputs.map(inputs(_))
    val op = cfg.params.str("op").getOrElse("intersect")
    val out = op match {
      case "intersect" => dfs.reduceLeft(_.intersect(_))
      case "except" | "difference" => dfs.reduceLeft(_.except(_))
      case "union_distinct" =>
        dfs.reduceLeft(_.unionByName(_, allowMissingColumns = true))
          .distinct()
      case other => throw new IllegalArgumentException(s"set op: $other")
    }
    TransformCommon.finishRouted(out, cfg)
  }
}

/** `sql`/`beamsql` (reference `module/transform/BeamSQLTransform`):
  * every input becomes a temp view; Catalyst replaces Calcite. The
  * reference's MDT_* UDAF/UDF registrations map to Spark built-ins
  * (collect_list/collect_set/count distinct/greatest/least/uuid). */
object SqlTransform {

  /** Reference MDT_* aggregate names → Spark built-ins, rewritten in
    * the SQL text (BeamSQLTransform.java:179-186). Output element
    * order of the distinct variants is unspecified in the reference
    * too (HashSet iteration). */
  private[operators] def rewriteMdtSql(sql: String): String = {
    var s = sql
    for (t <- Seq("INT64", "STRING", "FLOAT64")) {
      s = s.replaceAll(s"(?i)MDT_ARRAY_AGG_DISTINCT_$t\\s*\\(",
        "collect_set(")
      s = s.replaceAll(s"(?i)MDT_ARRAY_AGG_$t\\s*\\(", "collect_list(")
      s = s.replaceAll(s"(?i)MDT_COUNT_DISTINCT_$t\\s*\\(",
        "count(DISTINCT ")
    }
    s.replaceAll("(?i)MDT_GENERATE_UUID\\s*\\(\\s*\\)", "uuid()")
  }

  /** Scalar MDT_* UDFs with the reference's exact null semantics
    * (MathFunctions/ArrayFunctions: greatest/least treat null as
    * missing; contains_all is false on any null input). */
  // once per function registry: re-registration is harmless but logs
  // a "replaced a previously registered function" WARN per query,
  // which polluted the bench harness's stdout enough to break its
  // one-line JSON contract (rounds 3-5 shipped unparseable bench
  // files). Probing the registry, not a per-session set, also covers
  // cloned sessions, which inherit their parent's functions.
  private[graft] def registerMdtUdfs(
      spark: SparkSession): Unit = synchronized {
    if (spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(
          "MDT_GREATEST_INT64"))) return
    def g[T](ge: Boolean)(implicit ord: Ordering[T]): (T, T) => T =
      (a, b) =>
        if (a == null) b else if (b == null) a
        else if (ord.gteq(a, b) == ge) a else b
    spark.udf.register("MDT_GREATEST_INT64",
      (a: java.lang.Long, b: java.lang.Long) =>
        g[java.lang.Long](ge = true)(Ordering.by(_.longValue))(a, b))
    spark.udf.register("MDT_GREATEST_FLOAT64",
      (a: java.lang.Double, b: java.lang.Double) =>
        g[java.lang.Double](ge = true)(Ordering.by(_.doubleValue))(a, b))
    spark.udf.register("MDT_LEAST_INT64",
      (a: java.lang.Long, b: java.lang.Long) =>
        g[java.lang.Long](ge = false)(Ordering.by(_.longValue))(a, b))
    spark.udf.register("MDT_LEAST_FLOAT64",
      (a: java.lang.Double, b: java.lang.Double) =>
        g[java.lang.Double](ge = false)(Ordering.by(_.doubleValue))(a, b))
    spark.udf.register("MDT_CONTAINS_ALL_INT64",
      (a: Seq[java.lang.Long], b: Seq[java.lang.Long]) =>
        if (a == null || b == null) false else b.forall(a.contains))
    spark.udf.register("MDT_CONTAINS_ALL_STRING",
      (a: Seq[String], b: Seq[String]) =>
        if (a == null || b == null) false else b.forall(a.contains))
    // engine extension: the native codegen'd cosine expression, so
    // SQL-module users score embeddings without a UDF round-trip
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => org.apache.spark.sql.graft.CosineSimilarity(
        exprs.head, exprs(1)), "built-in")
  }

  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val rawSql = cfg.params.str("sql").getOrElse(
      throw new IllegalArgumentException("sql module requires sql"))
    // dotted collection names (partition outputs `parts.a`,
    // dead-letter `.failures`) are invalid temp-view names — register
    // them with underscores; SQL references the sanitized name.
    // An input the SQL references MORE THAN ONCE (self-joins: `FROM
    // knn a JOIN knn b`) re-executes its whole build per reference —
    // pin computed inputs so the subtree runs once (pinIfComputed
    // leaves plain scans and sub-broadcast-threshold aggregates
    // alone; a CTE shadowing the view name at worst marks a lazy
    // persist that never materializes). The count runs over the SQL
    // with string literals and comments blanked (r22 advice): a view
    // name inside a literal or `-- comment` is not a reference.
    val countable = rawSql
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("--[^\n]*", " ")
      .replaceAll("'(?:[^']|'')*'", "''")
    inputs.foreach { case (n, df) =>
      val view = n.replace('.', '_')
      val refs = ("(?i)\\b" + java.util.regex.Pattern.quote(view) +
        "\\b").r.findAllMatchIn(countable).size
      val pinned =
        if (refs >= 2) TransformCommon.pinIfComputed(df) else df
      pinned.createOrReplaceTempView(view)
    }
    registerMdtUdfs(spark)
    val sql = rewriteMdtSql(rawSql)
    // named / positional SQL parameters (BeamSQLTransform.java:149-187)
    // map onto Spark's parameterized spark.sql
    val named = cfg.param("namedParameters").map(n =>
      n.names.map(k => k -> graft.config.Json.scalar(n(k).get)).toMap)
      .getOrElse(Map.empty[String, Any])
    val positional = cfg.param("positionalParameters").map(
      _.elems.map(graft.config.Json.scalar)).getOrElse(Seq.empty)
    val out =
      if (named.nonEmpty) spark.sql(sql, named)
      else if (positional.nonEmpty) spark.sql(sql, positional.toArray)
      else spark.sql(sql)
    TransformCommon.finishRouted(out, cfg)
  }
}

/** `deserialize` (reference `module/transform/DeserializeTransform`):
  * parse a bytes/string field as json (`from_json`) or csv into a
  * struct column; avro via `from_avro` when schema provided. */
object DeserializeTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    // payload parsing is per-row CPU work (from_json/from_csv/codec
    // loops) — a one-split input would run it on a single task
    // (q16: 0.85s of from_json serialized on one core at sf0.1)
    var df = TransformCommon.widen(TransformCommon.single(cfg, inputs))
    val field = cfg.params.str("field").getOrElse("payload")
    val outField = cfg.params.str("outputField").getOrElse(field)
    val format = cfg.params.str("format").getOrElse("json")
    val schema = cfg.param("schema").map(
      graft.schema.SchemaMapper.toStructType)
    format match {
      case "json" =>
        val st = schema.getOrElse(
          throw new IllegalArgumentException("deserialize json needs schema"))
        // PERMISSIVE mode yields an all-null struct for malformed
        // input — detect via the corrupt-record column instead
        val st2 = st.add("_corrupt_record", StringType)
        df = df.withColumn(outField,
            from_json(col(field).cast(StringType), st2,
              Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
          .withColumn("__bad", col(s"$outField._corrupt_record").isNotNull)
          .withColumn(outField, col(outField).dropFields("_corrupt_record"))
      case "csv" =>
        val st = schema.getOrElse(
          throw new IllegalArgumentException("deserialize csv needs schema"))
        // PERMISSIVE from_csv yields an all-null STRUCT (not null) for
        // malformed lines, and outputField often equals field — detect
        // failures via the corrupt-record column like the json branch
        val st2 = st.add("_corrupt_record", StringType)
        df = df.withColumn(outField,
            from_csv(col(field).cast(StringType), st2,
              Map("mode" -> "PERMISSIVE",
                "columnNameOfCorruptRecord" -> "_corrupt_record")))
          .withColumn("__bad", col(s"$outField._corrupt_record").isNotNull)
          .withColumn(outField, col(outField).dropFields("_corrupt_record"))
      case "avro" =>
        // reference Format.avro (DeserializeTransform.java:117-121,
        // Serialize.java avro branch): raw-binary single records
        // decoded with a GenericDatumReader. Wire schema comes from
        // `avroSchema` (JSON) or is derived from the Spark-style
        // `schema` param; decode failures flag __bad for the shared
        // dead-letter routing below. mapPartitions so the reader is
        // built once per partition.
        val avroJson = cfg.params.str("avroSchema")
          .getOrElse(graft.ops.AvroCodec.toAvroSchema(schema.getOrElse(
            throw new IllegalArgumentException(
              "deserialize avro needs avroSchema or schema"))).toString)
        val decFn = new graft.ops.AvroCodec.RowDecoderFn(avroJson)
        df = TransformCommon.decodePayload(df, field, outField,
          graft.ops.AvroCodec.toStructType(avroJson), decFn.decode)
      case "protobuf" =>
        // native wire-format decode (ops/ProtoCodec — the reference
        // links protobuf-java, DeserializeTransform.java:117-121; no
        // protobuf jar ships here so the engine carries its own
        // reader). Descriptor: protoc FileDescriptorSet via
        // descriptorFile+messageName, or derived canonically from
        // the `schema` param (matching the serialize side).
        val (descBytes, msgName) =
          ProtoTransformCommon.resolveDescriptor(spark, cfg.params,
            schema)
        val decFn = new graft.ops.ProtoCodec.RowDecoderFn(
          descBytes, msgName)
        df = TransformCommon.decodePayload(df, field, outField,
          decFn.structType, decFn.decode)
      case other =>
        throw new IllegalArgumentException(s"deserialize format: $other")
    }
    // dead-letter surface (§2.11 MErrorHandler/MFailure): unparseable
    // payloads route to `<name>.failures` instead of failing the job
    // (failFast: true raises instead)
    df = df.withColumn("__bad", coalesce(col("__bad"), lit(false)))
    val bad = col("__bad")
    val failures = df.filter(bad).drop("__bad")
    val good =
      if (cfg.node.bool("failFast").getOrElse(false))
        df.withColumn(outField, when(bad,
          raise_error(concat(lit(s"deserialize failed for $field: "),
            col(field).cast(StringType)))).otherwise(col(outField)))
      else df.filter(!bad)
    var out = good.drop("__bad")
    if (cfg.params.bool("flatten").getOrElse(false))
      out = out.select((out.columns.filterNot(_ == outField).map(col) :+
        col(s"$outField.*")).toSeq: _*)
    Map(cfg.name -> TransformCommon.finish(out, cfg),
      s"${cfg.name}.failures" -> failures)
  }
}

/** `reshuffle` (reference `transform/ReshuffleTransform` — a fusion
  * break). Spark stages already break at shuffles; kept as an explicit
  * `repartition` for output-shard control. */
/** `example` dev transform (reference `ExampleTransform.java`):
  * union the inputs, print every element to executor stdout, pass
  * rows through unchanged. Debug-only by nature — the per-row
  * println deliberately lives outside codegen, exactly like the
  * reference's PrintDoFn. */
object ExampleTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    require(inputs.nonEmpty, s"module ${cfg.name} requires an input")
    val df = cfg.inputs.map(inputs(_)).reduceLeft(_.unionByName(_))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(df.schema))
    val out = df.mapPartitions { it =>
      it.map { row => println(s"debug: $row"); row }
    }(enc)
    Map(cfg.name -> out)
  }
}

object ReshuffleTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val df = TransformCommon.single(cfg, inputs)
    // `fields` hash-partitions by key — pre-partitioning a frame
    // consumed by several joins/aggregations on that key lets every
    // consumer reuse ONE exchange instead of shuffling each time
    val byCols = cfg.params.strArr("fields").map(col)
    val out = (cfg.params.int("numPartitions"), byCols) match {
      case (Some(n), cols) if cols.nonEmpty => df.repartition(n, cols: _*)
      case (None, cols) if cols.nonEmpty => df.repartition(cols: _*)
      case (Some(n), _) => df.repartition(n)
      case (None, _) => df.repartition()
    }
    Map(cfg.name -> out)
  }
}

/** `tokenize` (reference `transform/TokenizeTransform.java:62-120` —
  * Lucene charFilters → tokenizer → tokenFilters chains, see
  * `functions/TokenAnalyzer.scala` for the supported types).
  *
  * Two paths per field: a declared `tokenizer`/`charFilters`/`filters`
  * chain compiles to one tight-loop UDF (single evaluation per
  * document, patterns precompiled — NOT chained higher-order
  * functions, which re-evaluate upstream expressions per element
  * after CollapseProject inlining); the legacy simple keys
  * (pattern/lowercase/stopWords) keep the fully-codegen'd
  * split/lower/filter Column path. */
object TokenizeTransform {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    var df = TransformCommon.single(cfg, inputs)
    require(cfg.params.arrOf("fields").nonEmpty,
      s"tokenize module ${cfg.name} requires fields " +
        s"(got: ${cfg.params.names.mkString(", ")})")
    cfg.params.arrOf("fields").foreach { f =>
      val in = f.str("field").orElse(f.str("input")).get
      val out = f.str("name").getOrElse(s"${in}_tokens")
      val c: Column =
        if (f("tokenizer").isDefined || f("charFilters").isDefined ||
          f("filters").isDefined) {
          val chain = graft.functions.TokenAnalyzer.compile(f)
          val analyze = udf((s: String) => chain.analyze(s))
          analyze(col(in).cast(StringType))
        } else {
          val pattern = f.str("pattern").getOrElse("\\s+")
          var c0: Column = split(col(in).cast(StringType), pattern)
          if (f.bool("lowercase").getOrElse(true))
            c0 = transform(c0, t => lower(t))
          c0 = filter(c0, t => t =!= "")
          val stop = f.strArr("stopWords")
          if (stop.nonEmpty) c0 = filter(c0, t => !t.isin(stop: _*))
          c0
        }
      df = df.withColumn(out, c)
    }
    TransformCommon.finishRouted(df, cfg)
  }
}
