package graft

import com.fasterxml.jackson.databind.JsonNode
import graft.config.{ConfigLoader, Json}
import graft.config.Json._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-driven pipeline: YAML/JSON `sources`/`transforms`/`sinks`
  * declaration → a DAG of DataFrames, planned and executed by Catalyst.
  *
  * This is the Spark-native counterpart of the reference's
  * `MPipeline.apply` fixpoint loop (mercari/pipeline
  * `MPipeline.java:109-237`): we repeatedly apply any module whose
  * `inputs` and `waits` are already materialized. Unlike the reference
  * (where the Beam graph IS the plan and there is no optimizer), every
  * module here is a pure `DataFrame → DataFrame` builder, so the whole
  * pipeline collapses into one Catalyst plan per sink — predicate
  * pushdown, column pruning, and join selection run across module
  * boundaries for free.
  */
object Pipeline {

  case class ModuleCfg(
      name: String,
      module: String,
      inputs: Seq[String],
      waits: Seq[String],
      params: JsonNode,
      node: JsonNode) {
    def param(key: String): Option[JsonNode] = params(key)
  }

  type Builder = (SparkSession, ModuleCfg, Map[String, DataFrame]) =>
    Map[String, DataFrame]

  /** Module registry — plain map, no classpath scanning. */
  val sources: Map[String, Builder] = Map[String, Builder](
    "create" -> CreateSource.build,
    "storage" -> StorageSource.build,
    "files" -> StorageSource.build,
    "parquet" -> StorageSource.build,
    "jdbc" -> JdbcSource.build,
    // incremental query-per-interval (reference microbatch): ranged
    // JDBC query per tick, or the file-stream fallback without url/sql
    "microbatch" -> MicrobatchSource.build,
    "rate" -> RateSource.build,
    "kafka" -> KafkaSource.build,
    "iceberg" -> IcebergSource.build,
    "http" -> HttpSource.build,
    "websocket" -> WebSocketSource.build,
    "pubsub" -> PubSubSource.build) ++
    VendorSlots.sources // §7.5: configs parse, slots fail actionably

  val transforms: Map[String, Builder] = Map[String, Builder](
    "filter" -> FilterTransform.build,
    "select" -> SelectTransform.build,
    "aggregation" -> AggregationTransform.build,
    "partition" -> PartitionTransform.build,
    "union" -> UnionTransform.build,
    "sort" -> SortTransform.build,
    "pivot" -> PivotTransform.build,
    "unpivot" -> UnpivotTransform.build,
    "unnest" -> UnnestTransform.build,
    "lookup" -> LookupTransform.build,
    "asof" -> AsofJoinTransform.build,
    "join" -> JoinTransform.build,
    "compare" -> CompareTransform.build,
    "limit" -> LimitTransform.build,
    "set" -> SetTransform.build,
    "sql" -> SqlTransform.build,
    "beamsql" -> SqlTransform.build,
    "deserialize" -> DeserializeTransform.build,
    "serialize" -> SerializeTransform.build,
    "reshuffle" -> ReshuffleTransform.build,
    "example" -> ExampleTransform.build,
    "window" -> WindowTransform.build,
    "stateful" -> graft.streaming.StatefulTransform.build,
    "crypto" -> CryptoTransform.build,
    "http" -> HttpTransform.build,
    "multimodal" -> MultimodalTransform.build,
    "tokenize" -> TokenizeTransform.build,
    // deprecated reference module: per-key processors ≡ window module
    "processing" -> WindowTransform.build,
    "dedup" -> DedupTransform.build,
    "onnx" -> OnnxTransform.build,
    "sample" -> SampleTransform.build,
    "mixture" -> MixtureTransform.build,
    "pack" -> PackTransform.build,
    "chunk" -> ChunkTransform.build,
    "graph" -> GraphTransform.build,
    "tfidf" -> TfIdfTransform.build,
    "profile" -> ProfileTransform.build,
    "similarity" -> SimilarityTransform.build,
    "textAnalysis" -> TextAnalysisTransform.build) ++
    VendorSlots.transforms

  val sinks: Map[String, Builder] = Map[String, Builder](
    "storage" -> StorageSink.build,
    "files" -> StorageSink.build,
    "jdbc" -> JdbcSink.build,
    "debug" -> DebugSink.build,
    "memory" -> DebugSink.build,
    "text" -> TextSink.build,
    "iceberg" -> IcebergSink.build,
    "pubsub" -> PubSubSink.build) ++
    VendorSlots.sinks

  /** Parse + build all collections; sinks are NOT executed.
    * `context` selects tagged modules (reference `--context=`). Confs
    * scoped to graph construction are restored on return; persisted
    * frames stay for the caller's actions (see [[ops.CacheTracker]]). */
  def build(spark: SparkSession, configText: String,
      args: Map[String, String] = Map.empty,
      context: Option[String] = None): Map[String, DataFrame] = {
    val scope = graft.ops.CacheTracker.beginScope()
    try runPhased(spark, configText, args, context, executeSinks = false)._1
    finally scope.close(release = false)
  }

  /** Parse + build + execute sink actions in dependency order. On
    * failure, falls back to `system.failure.alterConfig` when one is
    * declared (reference `MPipeline.java:93-106`). */
  def execute(spark: SparkSession, configText: String,
      args: Map[String, String] = Map.empty,
      context: Option[String] = None): Map[String, DataFrame] =
    executeRec(spark, configText, args, context, depth = 0)

  private def executeRec(spark: SparkSession, configText: String,
      args: Map[String, String], context: Option[String], depth: Int)
      : Map[String, DataFrame] = {
    // alterConfig fallback wraps GRAPH CONSTRUCTION only, mirroring
    // the reference's scope (MPipeline.java:93-106 catches around
    // apply, not run): once sink actions start, a failure propagates
    // rather than replaying an alternate pipeline on top of whatever
    // the primary already wrote. sinksStarted catches the waits-
    // triggered case, where a sink action runs DURING construction.
    val sinksStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
    // operator-persisted frames (ngram candidates, benchmark grams)
    // live exactly as long as THIS run's sink actions need them:
    // closing the scope releases them — unless this run built
    // streaming frames, whose live micro-batch plans may reference a
    // tracked frame (e.g. a batch http snapshot joined into a
    // stream); those frames fall to session cleanup (clearCache).
    // Decided from this run's own collections, not a global query
    // count: another run may start a stream at the same moment.
    val cacheScope = graft.ops.CacheTracker.beginScope()
    var scopeClosed = false
    var built = Map.empty[String, DataFrame]
    try {
      val (collections, actions) =
        try runPhased(spark, configText, args, context,
          executeSinks = true, sinksStarted)
        catch {
          case e: Throwable =>
            // re-resolving may itself fail (bad config) — keep the
            // original error in that case
            val alter =
              try ConfigLoader.resolve(configText, args, context)
                .failure.alterConfig
              catch { case _: Throwable => None }
            if (alter.isEmpty || depth >= 4 || sinksStarted.get) throw e
            else {
              // the failed attempt's frames are orphans: no sink ran
              // (sinksStarted guards the waits case, which rethrows
              // above), so nothing — including any streaming query
              // the RETRY starts — can reference them. Release here,
              // before the retry frame opens its own scope, so the
              // retry's streaming queries aren't mis-attributed to
              // this frame in the finally below.
              cacheScope.close(release = true)
              scopeClosed = true
              return executeRec(spark, alter.get, args, context,
                depth + 1)
            }
        }
      built = collections
      actions.foreach(_.apply())
      collections
    } finally {
      if (!scopeClosed)
        cacheScope.close(release = !built.values.exists(_.isStreaming))
    }
  }

  /** Once-per-JVM session-conf sanity warning: the engine reproduces
    * the reference's LENIENT cast/expression semantics (bad casts
    * null out and route to failure sinks), which Spark 4's default
    * ANSI mode turns into runtime exceptions deep inside modules.
    * graft.Run/Server/Verify/Bench all set ansi off; a user embedding
    * Pipeline in their own session gets one loud line instead of a
    * cryptic CAST_INVALID_INPUT three modules later. */
  private val warnedAnsi = new java.util.concurrent.atomic.AtomicBoolean
  private def warnSessionConf(spark: SparkSession): Unit =
    if (spark.conf.get("spark.sql.ansi.enabled", "false") == "true" &&
        warnedAnsi.compareAndSet(false, true))
      System.err.println(
        "[graft] WARNING: spark.sql.ansi.enabled=true — this engine " +
          "implements the reference's lenient cast semantics (invalid " +
          "casts null out / route to failure outputs); under ANSI " +
          "mode they raise instead. Set spark.sql.ansi.enabled=false " +
          "for reference-parity behavior.")

  /** Build the whole collection graph, returning the deferred sink /
    * failure-sink actions instead of running them — the Beam-like
    * construct-then-run split (graph apply vs pipeline.run()). */
  private def runPhased(spark: SparkSession, configText: String,
      args: Map[String, String], context: Option[String],
      executeSinks: Boolean,
      sinksStarted: java.util.concurrent.atomic.AtomicBoolean =
        new java.util.concurrent.atomic.AtomicBoolean(false))
      : (Map[String, DataFrame], Seq[() => Unit]) = {
    // Engine runtime default, scoped to graph construction (r22):
    // let AQE right-size cached plans. Operators persist reused
    // candidate/index frames (CacheTracker, pinIfComputed) during
    // construction, and Spark compiles an InMemoryRelation's plan
    // EAGERLY at persist() under the conf in effect then; with the
    // default (false) it materializes at the full session shuffle-
    // partition count and every later stage reads that layout
    // uncoalesced — measured at sf0.1: q132 6.81→4.84 s, q126
    // 4.78→3.61, q140 4.49→3.68 (min-of-3 paired). Scale-neutral in
    // the other direction: AQE sizes the cached plan's partitioning
    // from the data, so large frames keep their width. Restored
    // after construction (consumers planned under the default treat
    // the cached output partitioning conservatively — correct either
    // way); an explicitly user-set value wins and is left alone
    // (nested runs therefore re-scope idempotently).
    val cacheAqeKey =
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val scoped =
      if (spark.sessionState.conf.contains(cacheAqeKey)) Nil
      else Seq(cacheAqeKey -> "true")
    graft.ops.ConfScope(spark, scoped: _*)(runPhased0(spark, configText,
      args, context, executeSinks, sinksStarted))
  }

  private def runPhased0(spark: SparkSession, configText: String,
      args: Map[String, String], context: Option[String],
      executeSinks: Boolean,
      sinksStarted: java.util.concurrent.atomic.AtomicBoolean)
      : (Map[String, DataFrame], Seq[() => Unit]) = {
    warnSessionConf(spark)
    val deferred = scala.collection.mutable.ArrayBuffer[() => Unit]()
    // sink actions by module name, once-guarded: a module that WAITS
    // on a sink needs that sink's write to have actually happened
    // before it builds (read-after-write), even though un-awaited
    // sink actions stay deferred to the post-build phase
    val sinkActions = scala.collection.mutable.Map[String, () => Unit]()
    def once(f: () => Unit): () => Unit = {
      val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
      () => if (ran.compareAndSet(false, true)) { sinksStarted.set(true); f() }
    }
    val resolved = ConfigLoader.resolve(configText, args, context)
    val root = resolved.root

    def modCfgs(section: String): Seq[(ModuleCfg, Builder, String)] =
      root.arrOf(section).filterNot(_.bool("ignore").getOrElse(false))
        .map { n =>
          val module = n.str("module").getOrElse(
            throw new IllegalArgumentException(s"module required: $n"))
          val registry = section match {
            case "sources" => sources
            case "transforms" => transforms
            case _ => sinks
          }
          val builder = registry.getOrElse(module,
            throw new IllegalArgumentException(
              s"unknown $section module: $module"))
          val name = n.str("name").getOrElse(
            throw new IllegalArgumentException(s"name required: $n"))
          // sideInputs (broadcast lookup collections, MPipeline.java
          // `sideInputs`) resolve through the same readiness rule
          val inputs = n.strArr("inputs") ++ n.str("input").toSeq ++
            n.strArr("sideInputs")
          (ModuleCfg(name, module, inputs, n.strArr("waits"),
            n("parameters").getOrElse(Json.obj()), n), builder, section)
        }

    val all = modCfgs("sources") ++ modCfgs("transforms") ++
      modCfgs("sinks")

    // nearest-ancestor strategy block for each module: the reference
    // declares windowing/trigger/accumulation strategy on the
    // windowing TRANSFORM, while Structured Streaming applies trigger
    // and output mode at the QUERY (sink). Sinks resolve their own
    // strategy first, then walk up their inputs — so a reference
    // config with `strategy.mode` on the aggregation is honored
    // rather than silently ignored.
    val nodeByName: Map[String, (JsonNode, Seq[String])] =
      all.map { case (cfg, _, _) => cfg.name -> ((cfg.node, cfg.inputs)) }
        .toMap
    def upstreamStrategy(name: String, seen: Set[String]): Option[JsonNode] =
      if (seen.contains(name)) None
      else nodeByName.get(name).flatMap { case (node, ins) =>
        node("strategy").orElse(
          ins.iterator
            .map(i => upstreamStrategy(i.split('.').head, seen + name))
            .collectFirst { case Some(s) => s })
      }

    var collections = Map.empty[String, DataFrame]
    var done = Set.empty[String]
    var pending = all
    var progress = true
    while (pending.nonEmpty && progress) {
      progress = false
      // inputs must resolve to an actual collection (a typo'd
      // sub-output like `parts.missing` falls through to the friendly
      // unresolved-modules error); waits only need the module done
      val (ready, notReady) = pending.partition { case (cfg, _, _) =>
        cfg.inputs.forall(collections.contains) &&
          cfg.waits.forall(w => collections.contains(w) ||
            done.contains(w.split('.').head))
      }
      ready.foreach { case (cfg, builder, section) =>
        // waits on a SINK mean "after its write" — run that sink's
        // action now (once-guarded) so eager readers (storage schema
        // inference) see the files
        if (executeSinks)
          cfg.waits.foreach(w =>
            sinkActions.get(w.split('.').head).foreach(_.apply()))
        val ins = cfg.inputs.map(i => i -> collections(i)).toMap
        var outs = builder(spark, cfg, ins)
        // `loggings` taps (module/Logging.java): observation metrics
        // on the named outputs, logged when an action completes
        val loggings = cfg.node.arrOf("loggings") ++
          cfg.node("logging").toSeq
        if (loggings.nonEmpty) {
          LoggingTaps.register(spark)
          loggings.foreach { lg =>
            // a named target must exist: silently tapping the main
            // output instead would log plausible counts for a metric
            // that was never attached
            lg.str("name").filterNot(outs.contains).foreach(n =>
              throw new IllegalArgumentException(
                s"logging on ${cfg.name}: no output '$n' " +
                  s"(has: ${outs.keys.toSeq.sorted.mkString(", ")})"))
            val target = lg.str("name").getOrElse(cfg.name)
            val level = lg.str("level").getOrElse("info")
            // streaming frames tap too: observe() metrics surface
            // per micro-batch through the StreamingQueryListener leg
            outs.get(target).foreach { d =>
              outs = outs.updated(target,
                LoggingTaps.tap(d, cfg.name, target, level))
            }
          }
        }
        collections ++= outs
        done += cfg.name
        if (section == "sinks" && executeSinks) {
          val strat = upstreamStrategy(cfg.name, Set.empty)
          // the frame registered under the sink's own name — which is
          // its DECLARED first input (sink build() is side-effect
          // free), and carries any `loggings` tap applied above: the
          // write is the only action that would ever execute a sink
          // tap's observed plan. Fallback: the declared first input,
          // never ins.values.headOption (Map iteration order is
          // hash-based beyond 4 entries, so a sink with several
          // sideInputs could write the wrong frame).
          val in = outs.get(cfg.name)
            .orElse(cfg.inputs.headOption.map(ins))
          val act = once(() => SinkExecutor.execute(spark, cfg, in, strat))
          deferred += act
          sinkActions(cfg.name) = act
        }
        // module-scoped failure sinks (ModuleConfig.failures): this
        // module's bad records only, same envelope as pipeline-level.
        // Streaming frames drain through foreachBatch — the reference
        // routes BadRecords uniformly in both modes (MErrorHandler).
        if (executeSinks)
          outs.get(s"${cfg.name}.failures").foreach { f =>
            val fcs = cfg.node.arrOf("failures")
              .filterNot(_.bool("ignore").getOrElse(false))
            if (fcs.nonEmpty)
              deferred += (() =>
                if (f.isStreaming)
                  startStreamingFailureSinks(spark, fcs, cfg.name, f)
                else {
                  val env = failureEnvelope(Seq(cfg.name -> f))
                  fcs.foreach(fc => runFailureSink(spark, fc, env))
                })
          }
        progress = true
      }
      pending = notReady
    }
    if (pending.nonEmpty)
      throw new IllegalArgumentException(
        "No input for modules: " + pending.map(_._1.name).mkString(", ") +
          "; available: " + collections.keys.mkString(", "))

    // pipeline-level failure sinks (`failures:` +
    // `system.failure.union: true` — reference MErrorHandler): union
    // every module's `.failures` collection into a canonical
    // BadRecord envelope (module, record-as-json, error) and run each
    // declared failure sink over it
    val failureCfgs = root.arrOf("failures")
      .filterNot(_.bool("ignore").getOrElse(false))
    if (executeSinks && failureCfgs.nonEmpty && resolved.failure.union &&
        !resolved.failure.failFast.getOrElse(false)) {
      val (streamingFails, fails) = collections.toSeq
        .filter(_._1.endsWith(".failures"))
        .sortBy(_._1)
        .map { case (n, d) => n.stripSuffix(".failures") -> d }
        .partition(_._2.isStreaming)
      if (fails.nonEmpty) {
        val union = failureEnvelope(fails)
        failureCfgs.foreach(fc => deferred += (() =>
          runFailureSink(spark, fc, union)))
      }
      // streaming modules' bad records drain continuously through
      // foreachBatch into the same declared sinks (reference routes
      // BadRecords uniformly in batch and streaming — MErrorHandler)
      streamingFails.foreach { case (moduleName, d) =>
        deferred += (() =>
          startStreamingFailureSinks(spark, failureCfgs, moduleName, d))
      }
    }
    (collections, deferred.toSeq)
  }

  /** Canonical BadRecord envelope over `.failures` frames:
    * (module, record-as-json, error). */
  private def failureEnvelope(
      fails: Seq[(String, DataFrame)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json}
    fails.map { case (moduleName, d) =>
      val payload = d.columns.filterNot(_ == "__error")
      d.select(
        lit(moduleName).as("module"),
        to_json(struct(payload.map(col): _*)).as("record"),
        (if (d.columns.contains("__error")) col("__error").cast("string")
         else lit(null).cast("string")).as("error"))
    }.reduce(_ unionByName _)
  }

  /** Build + execute one `failures:` sink entry over an envelope.
    * `forceAppend` is set on streaming micro-batches, where a
    * per-batch overwrite would clobber earlier batches' bad rows. */
  private def runFailureSink(spark: SparkSession, n: JsonNode,
      envelope: DataFrame, forceAppend: Boolean = false): Unit = {
    val module = n.str("module").getOrElse(
      throw new IllegalArgumentException(
        s"failures entry requires module: $n"))
    if (!sinks.contains(module))
      throw new IllegalArgumentException(
        s"unknown failures module: $module")
    val name = n.str("name").getOrElse("failures")
    val params0 = n("parameters").getOrElse(Json.obj())
    val params =
      if (!forceAppend) params0
      else {
        val copy = params0.deepCopy[JsonNode]()
        copy.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("mode", "append")
        copy
      }
    // sink builders are side-effect free (they only register the
    // input frame under the sink's name — the write happens in
    // SinkExecutor), so there is nothing to build here
    val cfg = ModuleCfg(name, module, Seq("__failures"), Nil, params, n)
    SinkExecutor.execute(spark, cfg, Some(envelope), None)
  }

  /** Streaming leg of the failure envelope: one foreachBatch query per
    * streaming `.failures` frame, draining each micro-batch's bad rows
    * through the declared failure sinks (append semantics). Uniform
    * with batch routing, as the reference's MErrorHandler is. */
  private def startStreamingFailureSinks(spark: SparkSession,
      failureCfgs: Seq[JsonNode], moduleName: String,
      failures: DataFrame): Unit = {
    // named function value: picks the Scala foreachBatch overload
    // unambiguously (the Java VoidFunction2 one shadows lambdas)
    val drain: (DataFrame, Long) => Unit = (batch, _) =>
      if (!batch.isEmpty) {
        val env = failureEnvelope(Seq(moduleName -> batch))
        failureCfgs.foreach(fc =>
          runFailureSink(spark, fc, env, forceAppend = true))
      }
    val q = failures.writeStream
      .outputMode("append")
      .option("checkpointLocation",
        graft.ops.FsUtil.scratchDir(
          s"graft-failures-$moduleName-").toString)
      .foreachBatch(drain)
      .start()
    graft.streaming.StreamRunner.register(q)
  }

  /** `${args.key}` substitution (FreeMarker-subset of the reference's
    * config templating, `config/Config.java:551-563`). */
  def substituteArgs(text: String, args: Map[String, String]): String =
    // deterministic order (longest key first): a hash-ordered fold
    // made nested placeholders in arg VALUES substitute differently
    // across runs, and a short key could clobber a longer one's
    // prefix. Bare `${k}` (no args. prefix) is the reference's
    // shorthand and can shadow row-template fields of the same name —
    // prefer `${args.k}` in configs that template rows.
    args.toSeq.sortBy(-_._1.length).foldLeft(text) { case (t, (k, v)) =>
      t.replace("${args." + k + "}", v).replace("${" + k + "}", v)
    }
}
