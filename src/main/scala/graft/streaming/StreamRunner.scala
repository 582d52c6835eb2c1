package graft.streaming

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.jdk.CollectionConverters._

/** Starts streaming sinks (SURVEY §2.9): `writeStream` with the
  * module's trigger; output mode maps Beam accumulation
  * (`discarding` → append, `accumulating` → update/complete). With
  * early-firing triggers both modes run ONE exact pane engine over
  * the aggregation's [[PaneRecipes]] recipe (`startRecipeEngine`);
  * the mode picks only a pane's elements — `discarding`
  * re-aggregates each micro-batch (each pane holds only
  * since-last-firing elements), `accumulating` (the default)
  * re-aggregates a retained element store (each pane holds every
  * element so far). Both tag, number and publish panes the same
  * way, and close and expire windows on one event-time clock, the
  * max event time seen (`PaneState`).
  * Started queries are registered here so callers (tests, drivers)
  * can drain with `processAllAvailable` or block on `awaitAny`; that
  * registry and the memory-sink pane buffer are the only state kept
  * here — pane trigger state lives with each query (`PaneState`). */
object StreamRunner {

  // concurrent server requests start queries at the same time
  private val active =
    new java.util.concurrent.CopyOnWriteArrayList[StreamingQuery]()

  def activeQueries: Seq[StreamingQuery] = allQueries.filter(_.isActive)

  /** Register an externally-started query (failure-sink drains, custom
    * sources) for the same drain/stop lifecycle as sink queries. */
  def register(q: StreamingQuery): Unit = active.add(q)

  /** Every query started this session, dead or alive — consult this
    * (not activeQueries) when surfacing failures: a query that died in
    * its first micro-batch is already inactive. */
  def allQueries: Seq[StreamingQuery] = active.asScala.toSeq

  /** Pane store for triggered memory/debug sinks: one buffer of
    * (paneTiming, row) per query name. */
  val paneStore = new java.util.concurrent.ConcurrentHashMap[
    String, scala.collection.mutable.ListBuffer[(String, Row)]]()

  /** afterProcessingTime delay in millis, honoring the reference's
    * `pastFirstElementDelayUnit` (`Strategy.java:247-248`; second when
    * absent) and the `delay` alias. */
  private[graft] def delayMillis(
      n: com.fasterxml.jackson.databind.JsonNode): Long = {
    val base = n.long("pastFirstElementDelay").orElse(n.long("delay"))
      .getOrElse(1L)
    val mult = n.str("pastFirstElementDelayUnit")
      .orElse(n.str("unit")).getOrElse("second") match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case other => throw new IllegalArgumentException(
        s"trigger delay unit: $other")
    }
    base * mult
  }

  /** Composite-trigger normalization (`module/Strategy.java:262-343`):
    * Structured Streaming has one repeating query-level trigger, so
    * Beam composites reduce to their closest repeating element —
    * `repeatedly(X)` → X (SS triggers already repeat), `afterFirst` →
    * the child that would fire first (shortest processing-time delay,
    * else the first child), `afterAll` → the child that fires last,
    * `afterEach` → its first child. A `finalTrigger` (Beam orFinally,
    * `Strategy.java:337-343`) is validated like the reference —
    * composite/repeated final triggers are rejected — then dropped:
    * Structured Streaming ends queries via query management
    * (stop/AvailableNow drain), not trigger state.
    * Lossy by construction; each reduction is deterministic and
    * documented here. */
  private[graft] def normalizeTrigger(
      t: com.fasterxml.jackson.databind.JsonNode)
      : com.fasterxml.jackson.databind.JsonNode = {
    t("finalTrigger").foreach { ft =>
      val ftType = ft.str("type").getOrElse("")
      if (Set("repeatedly", "afterFirst", "afterAll",
          "afterEach").contains(ftType))
        throw new IllegalArgumentException(
          s"finalTrigger must be a once-trigger, got $ftType " +
            "(the reference rejects repeated final triggers too)")
    }
    def delayOf(n: com.fasterxml.jackson.databind.JsonNode): Long =
      if (n.str("type").contains("afterProcessingTime")) delayMillis(n)
      else Long.MaxValue
    t.str("type").getOrElse("") match {
      case "repeatedly" =>
        t("foreverTrigger").map(normalizeTrigger).getOrElse(t)
      case "afterFirst" | "afterAll" | "afterEach" =>
        val children = t.arrOf("childrenTriggers").map(normalizeTrigger)
        if (children.isEmpty) t
        else t.str("type").get match {
          case "afterFirst" => children.minBy(delayOf)
          case "afterAll" => children.maxBy(delayOf)
          case _ => children.head
        }
      case "afterWatermark" =>
        // the early/late firing children need the same reduction —
        // otherwise a composite early trigger (e.g. repeatedly(
        // afterProcessingTime(30))) reads as a node with no delay
        // field and silently fires at the 1-second default
        val early = t("earlyFiringTrigger").map(normalizeTrigger)
        val late = t("lateFiringTrigger").map(normalizeTrigger)
        if (early.isEmpty && late.isEmpty) t
        else {
          val o = t.deepCopy[
            com.fasterxml.jackson.databind.node.ObjectNode]
          early.foreach(e => o.set[com.fasterxml.jackson.databind
            .JsonNode]("earlyFiringTrigger", e))
          late.foreach(l => o.set[com.fasterxml.jackson.databind
            .JsonNode]("lateFiringTrigger", l))
          o
        }
      case _ => t
    }
  }

  /** Pane-multiplexed triggers drain to buffers and file sinks only —
    * anything else must fail at start, not with a None.get inside
    * foreachBatch. */
  private def requirePaneSink(cfg: ModuleCfg): Unit =
    if (!Set("debug", "memory", "storage", "files").contains(cfg.module))
      throw new IllegalArgumentException(
        "trigger pane multiplexing supports storage/files/memory/" +
          s"debug sinks, got '${cfg.module}' — use a plain trigger " +
          "for this sink")

  def start(cfg: ModuleCfg, df: DataFrame,
      upstreamStrategy: Option[com.fasterxml.jackson.databind.JsonNode] =
        None): StreamingQuery = {
    // sink-level strategy wins; otherwise the nearest upstream
    // module's (where the reference declares it — see Pipeline)
    val strategy = cfg.node("strategy").orElse(upstreamStrategy)
    // a fresh run starts a fresh pane buffer — a retry (alterConfig)
    // or second execute in the same session must not append to the
    // failed attempt's panes
    paneStore.remove(cfg.name)
    // only the sink's OWN strategy block is validated here — an
    // upstream module's was already checked where it was consumed
    cfg.node("strategy").foreach(Strategy.warnUnknownKeys(_, cfg.name))
    val trig = strategy.flatMap(_.apply("trigger")).map(normalizeTrigger)
    val trigType = trig.flatMap(_.str("type")).getOrElse("")
    if (trigType == "afterWatermark" &&
      trig.exists(_.apply("earlyFiringTrigger").isDefined))
      // one pane engine for both accumulation modes: discarding panes
      // re-aggregate each micro-batch, accumulating panes (the
      // default) the retained elements. `exactPanes` is accepted and
      // ignored: there is no other engine to select.
      return startRecipeEngine(cfg, df, trig.get,
        if (strategy.exists(_.str("mode").contains("discarding")))
          "discarding"
        else "accumulating")
    if (trigType == "afterPane")
      return startAfterPane(cfg, df, trig.get)
    startPlain(cfg, df, trig, strategy)
  }

  /** Trigger state of ONE pane query, created when it starts and
    * captured by its foreachBatch closure (a query's micro-batches
    * run one at a time on its own thread), so two queries never see
    * each other's state — whatever their sinks are named.
    *
    *  - `maxEventTime`: the event-time clock W, the max event time
    *    (epoch millis) over the batches applied so far. Beam pane
    *    timing maps onto it (Dataflow Model): a window closes ON_TIME
    *    once W reaches its end, and expires once W reaches its end +
    *    allowedLateness ([[expired]]). A batch's pane of a window is
    *    early while the window ends after W as the batch leaves it,
    *    so a window whose end the batch itself reaches fires its
    *    ON_TIME pane in that batch; expiry is judged on W before the
    *    batch.
    *  - `fired`: windows (by end, epoch seconds) whose ON_TIME pane
    *    already fired — drives the early/onTime/late split. Bounded
    *    by the windows a run observes (coarse), not by keys.
    *  - `lastBatch`: highest batchId already applied — a batch that
    *    re-enters foreachBatch with an applied id must be a no-op (the
    *    element store, this state, and the sink were all already
    *    updated). A same-process micro-batch retry re-enters with the
    *    same id; a restart replays the last batch when its commit is
    *    missing, so a restart sets `lastBatch` to the restored
    *    snapshot's batch id. A batch that failed before its snapshot
    *    was written replays against the state before it, and the
    *    on-disk layout keeps that replay exact: the store and the
    *    pane-ordinals snapshot are batch-stamped (`__gbatch=<id>`,
    *    `__obatch=<id>`, overwritten on replay) and file-sink panes
    *    publish as `b<id>-*` files that a replay deletes before
    *    re-publishing. */
  private final class PaneState {
    var maxEventTime: Long = Long.MinValue
    val fired = scala.collection.mutable.Set[Long]()
    var lastBatch: Long = -1L
  }

  /** Beam's expiry rule: the window ending at `endSec` (epoch
    * seconds) never fires again once the clock `clock` (epoch millis)
    * has reached its end plus allowedLateness. One rule for every
    * place a window or its elements can expire. */
  private def expired(endSec: Long, clock: Long, latenessMs: Long): Boolean =
    clock >= endSec * 1000L + latenessMs

  /** [[expired]]'s negation over a window-end column (epoch seconds). */
  private def live(endSec: Column, clock: Long, latenessMs: Long): Column =
    endSec * 1000L + latenessMs > clock

  /** `max(event time)` in epoch millis over a batch of the recipe's
    * pre-aggregation stream, as an Observation metric riding on an
    * action the engine runs anyway; None without an event time. */
  private def maxEventTimeMetric(batch: DataFrame,
      recipe: PaneRecipes.Recipe): Option[Column] =
    recipe.strategy.flatMap(Strategy.eventTimeCol(batch, _))
      .map(t => max(unix_millis(t)).as("__max_event_time"))

  /** The clock after a batch whose observed metrics are `m`. */
  private def advanced(clock: Long, m: Map[String, Any]): Long =
    m.get("__max_event_time").flatMap(Option(_))
      .map(v => math.max(clock, v.asInstanceOf[Number].longValue))
      .getOrElse(clock)

  /** Window-end column of a pane batch, if windowed. */
  private def windowEndCol(batch: DataFrame): Option[Column] =
    if (batch.columns.contains("window")) Some(col("window.end"))
    else None

  /** Plan-level emptiness probe for foreachBatch micro-batches
    * (r22): a no-data batch (watermark-advance cleanup, restart
    * replay with nothing new) arrives as a scan of ZERO files, so
    * its physical RDD has no partitions — checkable driver-side.
    * `df.isEmpty` answers the same question with a scheduled
    * limit(1) job that every REAL firing also pays (measured ~0.1 s
    * per firing at sf0.1). A 0-row batch that still has partitions
    * (an empty staged file) just takes the normal path — empty
    * slice write, empty touched set, no emit — the same no-op one
    * layer later, and replays of it are already caught by the
    * batch-id guard. */
  private def hasInput(df: DataFrame): Boolean =
    df.queryExecution.toRdd.getNumPartitions > 0

  /** Beam-parity PERSISTENT trigger state (Beam keeps pane timing in
    * durable trigger state; Structured Streaming's checkpoint covers
    * offsets only): after each batch the event-time clock and the
    * fired-window set roll under the checkpoint as a batch-stamped
    * JSON snapshot, and a restart restores the latest one — so pane
    * TIMING (not just values, which were already replay-exact via
    * batch stamping) is identical across a kill/restart. Without it
    * a window that closed just before a crash re-fired tagged
    * `early` until the clock re-passed its end. (Store compaction
    * needs no snapshot state: the element store's retention horizons
    * live in its `__wend=` partition paths, so pre-restart slices
    * keep compacting from the directory listing alone.) Snapshots
    * are tiny — one long plus the open-horizon window ends; expired
    * fired ends are pruned on write, which also bounds the set. The
    * latest two snapshots survive (current + prior) so a replayed
    * batch can overwrite its own and still find its predecessor. */
  private def persistTriggerState(st: PaneState, dir: java.io.File,
      batchId: Long, latenessMs: Long): Unit = {
    dir.mkdirs()
    val o = graft.config.Json.obj()
    if (st.maxEventTime != Long.MinValue)
      o.put("maxEventTime", st.maxEventTime)
    // expired windows can never fire again
    st.fired.filterInPlace(e => !expired(e, st.maxEventTime, latenessMs))
    val fa = o.putArray("fired")
    st.fired.toSeq.sorted.foreach(e => fa.add(e))
    val tmp = new java.io.File(dir, s".tmp-$batchId")
    java.nio.file.Files.write(tmp.toPath,
      o.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(dir, s"__tbatch=$batchId.json").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    triggerSnapIds(dir).sorted.dropRight(2).foreach(id =>
      new java.io.File(dir, s"__tbatch=$id.json").delete())
  }

  /** A directory's entries; none when it does not exist. */
  private def ls(d: java.io.File): Array[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])

  private def triggerSnapIds(dir: java.io.File): Seq[Long] =
    ls(dir).toSeq.map(_.getName)
      .filter(n => n.startsWith("__tbatch=") && n.endsWith(".json"))
      .map(_.stripPrefix("__tbatch=").stripSuffix(".json").toLong)

  /** Restore the latest trigger-state snapshot, if the checkpoint has
    * one (a fresh checkpoint starts fresh — reusing a checkpoint dir
    * IS the restart contract, exactly as for offsets), and the id of
    * the batch that wrote it as the last applied batch. */
  private def restoreTriggerState(st: PaneState,
      dir: java.io.File): Unit =
    triggerSnapIds(dir).sorted.lastOption.foreach { id =>
      val n = graft.config.Json.parse(new String(
        java.nio.file.Files.readAllBytes(
          new java.io.File(dir, s"__tbatch=$id.json").toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      // earlier builds kept a window-END clock under `frontier`:
      // resuming on it would close the current window early
      if (n("frontier").isDefined && n("maxEventTime").isEmpty)
        throw new IllegalStateException(
          s"$dir: pane trigger state written by an earlier build; " +
            "start from a fresh checkpoint")
      n.long("maxEventTime").foreach(st.maxEventTime = _)
      n.arrOf("fired").foreach(e => st.fired += e.asLong)
      st.lastBatch = id
    }

  /** Distinct retention horizons present in the element store's
    * partition paths — through the window-end grid they name every
    * window end on disk, so accumulating panes derive their
    * closing-candidate set from this listing instead of a full
    * re-aggregation. */
  private def wendValuesOnDisk(storeDir: String): Seq[Long] =
    ls(new java.io.File(storeDir))
      .filter(_.getName.startsWith("__gbatch="))
      .flatMap(g => ls(g).map(_.getName)
        .filter(_.startsWith("__wend="))
        .flatMap(_.stripPrefix("__wend=").toLongOption))
      .distinct.toSeq

  /** Clock-driven element-store compaction: delete every `__wend=E`
    * partition (under any `__gbatch=` slice) whose retention horizon
    * E has [[expired]] on the clock, then drop slices left with no
    * element partitions. Unparseable partition names (e.g. a
    * null-horizon `__HIVE_DEFAULT_PARTITION__`) are kept — safety
    * over space. */
  private def compactStore(storeDir: String, clock: Long,
      latenessMs: Long): Unit =
    ls(new java.io.File(storeDir))
      .filter(_.getName.startsWith("__gbatch=")).foreach { g =>
        var hadWend = false
        ls(g).filter(_.getName.startsWith("__wend=")).foreach { p =>
          hadWend = true
          p.getName.stripPrefix("__wend=").toLongOption.foreach { e =>
            if (expired(e, clock, latenessMs)) {
              ls(p).foreach(_.delete())
              p.delete()
            }
          }
        }
        // slice fully expired: clear committer droppings + the dir
        // (only for partitioned slices — a global-window slice has
        // bare part files and no horizon to judge them by)
        if (hadWend && !ls(g).exists(_.getName.startsWith("__wend="))) {
          ls(g).foreach(_.delete())
          g.delete()
        }
      }

  /** Beam early firings in either accumulation mode — exact, not
    * approximated, for every aggregate type (min/max/array_agg
    * included, which no output-delta scheme could reconstruct): a
    * pane is the aggregation's [[PaneRecipes]] recipe applied to the
    * pane's elements. The mode decides only where those come from:
    *  - `accumulating` (the default): every element of the window so
    *    far. Each batch appends its pre-agg rows to a parquet element
    *    store under the checkpoint dir and the pane re-aggregates the
    *    store. This retains raw elements for open windows (bounded by
    *    horizon × rate, MORE than Beam's combiner state — the
    *    exactness price). The store compacts at ELEMENT granularity:
    *    slices partition by each element's retention horizon
    *    (`__wend`), and the clock (past allowedLateness) drops
    *    expired partitions by path — so per-batch re-aggregation cost
    *    tracks open-window volume, not stream lifetime.
    *  - `discarding`: the elements since the window's last firing.
    *    Every touched (key, window) fires in every batch, so a
    *    ProcessingTime micro-batch of the pre-aggregation stream holds
    *    exactly those elements and the pane re-aggregates the batch —
    *    no store, no compaction.
    *
    * Pane scope and metadata mirror Beam PaneInfo, one rule for both
    * modes:
    *  - firings are per key+window: only keys with new elements fire
    *    (semi-join on the recipe's group keys), except the ON_TIME
    *    closing pane of an accumulating window, which fires once per
    *    window for ALL its keys when the event-time clock reaches the
    *    window end — Beam's watermark-close pane, which fires
    *    regardless of new data. A discarding pane without new
    *    elements would be empty, so only touched windows close
    *    (Beam's FIRE_IF_NON_EMPTY).
    *  - `__pane` = early while the window ends after the clock the
    *    batch leaves, else onTime for the window's first such firing,
    *    else late (late panes dropped unless `lateFiringTrigger` is
    *    declared, like Beam). A window emits at most one pane per
    *    batch.
    *  - `__pane_index` = the ordinal of this firing for its
    *    key+window (0-based), numbered for EVERY sink from one compact
    *    per-key ordinals snapshot under the checkpoint (batch-stamped,
    *    retention-pruned — NOT a rescan of the sink's pane history,
    *    which would grow with every firing ever made). The numbered
    *    panes are staged as parquet; a file sink (parquet only) moves
    *    the staged parts into its directory, a memory/debug sink
    *    buffers the staged rows.
    *
    * Replay safety: the element store, sink files, and ordinals
    * snapshot are all batch-stamped, so micro-batch retries and
    * restarts never duplicate VALUES — and pane TIMING survives too:
    * the clock and fired-window set roll under the checkpoint as
    * batch-stamped trigger-state snapshots (persistTriggerState,
    * Beam's persistent trigger state made concrete), so a restart
    * restores exactly where event time stood and a window that
    * closed just before the crash stays closed instead of re-firing
    * early.
    *
    * The engine looks up the aggregation's pane recipe, takes
    * allowedLateness from the aggregation's strategy (the one its
    * watermark uses; a sink strategy that sets a different value
    * fails here), restores the query's trigger state from the
    * checkpoint, and runs ONE ProcessingTime foreachBatch query of
    * the early-firing delay over the pre-aggregation stream,
    * checkpointed under `ckpt/<mode>`. It skips batches without input
    * and batch ids already applied (a same-process retry re-enters
    * with the same id, a restart replays a batch whose commit is
    * missing), and persists the trigger state after each applied
    * batch.
    *
    * Partition discovery stays on the driver: past 32 paths Spark
    * launches a distributed LISTING JOB per micro-batch — for the
    * element store read, which routinely holds (slices × open
    * horizons) > 32 dirs, bounded by the open-window horizon (the
    * same listing already runs driver-side for compaction), and for
    * the file source whenever a micro-batch picks up > 32 new files
    * (0.2-1.2 s per batch measured on a backlogged 4-core stream).
    * The store is read through the query's session, cloned at
    * start(); the source lists through the session that created it,
    * so it is re-created on a private clone. Neither touches the
    * caller's session once start() returns. */
  private def startRecipeEngine(cfg: ModuleCfg, df: DataFrame,
      trig: com.fasterxml.jackson.databind.JsonNode, mode: String)
      : StreamingQuery = {
    requirePaneSink(cfg)
    val accumulating = mode == "accumulating"
    val recipe = graft.ops.CacheTracker.recipe(df.queryExecution.logical)
      .getOrElse(throw new IllegalArgumentException(
        s"accumulation mode '$mode' with early firings requires the " +
          "pane sink to read a single-input aggregation module's " +
          "output directly (per-pane re-aggregation needs the " +
          "pre-aggregation stream) — move intervening transforms or " +
          "logging taps upstream of the aggregation, or drop the " +
          "post-aggregation limit"))
    val lateness = recipe.strategy
      .flatMap(Strategy.allowedLatenessSeconds).getOrElse(0L)
    cfg.node("strategy").flatMap(Strategy.allowedLatenessSeconds)
      .filter(_ != lateness).foreach(own =>
        throw new IllegalArgumentException(
          s"${cfg.name}: the sink strategy's allowedLateness (${own}s) " +
            s"differs from the aggregation's (${lateness}s) — " +
            "windows expire on the aggregation's, which its watermark " +
            "uses too; declare allowedLateness on the aggregation only"))
    val latenessMs = lateness * 1000L
    val hasLate = trig("lateFiringTrigger").isDefined
    // the trigger bookkeeping (fired windows, per-window ordinals)
    // is keyed on a window's END, which for fixed, sliding and
    // calendar windows is immutable. A session window's end
    // EXTENDS as elements arrive and sessions merge, so an extended
    // session would read as a brand-new window — re-firing onTime
    // panes and corrupting ordinals. Silent wrong panes are worse
    // than a loud gap: fail with the alternatives named.
    require(!recipe.strategy.map(s => s("window").getOrElse(s))
        .flatMap(_.str("type")).contains("session"),
      s"${cfg.name}: $mode panes with early firings do not " +
        "support session windows (a session's identity — its end — " +
        "extends as elements arrive and sessions merge, so end-keyed " +
        "pane bookkeeping would re-fire closed panes) — use fixed, " +
        "sliding or calendar windows, or drop earlyFiringTrigger for " +
        "one final pane per session")
    val fmt = cfg.params.str("format").getOrElse("parquet")
    require(fmt == "parquet",
      s"$mode pane file sinks must be parquet (got $fmt): " +
        "pane parts are staged as parquet and moved into the sink")
    // None: a memory/debug sink, which buffers the numbered rows
    val sinkDir = cfg.module match {
      case "debug" | "memory" => None
      case _ => Some(new java.io.File(
        cfg.params.str("output").orElse(cfg.params.str("path"))
          .getOrElse(throw new IllegalArgumentException(
            s"${cfg.name}: storage pane sink requires output/path"))))
    }
    val st = new PaneState
    val ckpt = checkpoint(cfg)
    val triggerStateDir = new java.io.File(ckpt + "/trigger-state")
    restoreTriggerState(st, triggerStateDir)
    val storeDir = ckpt + "/acc-elements"
    // the aggregation's own window: element retention horizon and
    // window-end grid (None for a global window)
    val elementEndOf = recipe.strategy.flatMap(Strategy.elementRetainEnd)
    val elementGrid = recipe.strategy.flatMap(Strategy.endGrid)

    def partsIn(d: java.io.File): Array[java.io.File] =
      ls(d).filter(_.getName.endsWith(".parquet"))

    def emitWithIndex(pane0: DataFrame, keyCols: Seq[String],
        batchId: Long): Unit = {
      // the pane frame re-aggregates its elements; it feeds both the
      // staged publish and the ordinals delta, so pin it — otherwise
      // each action re-reads and re-aggregates them
      val pane = pane0.persist()
      try {
      val spark = pane.sparkSession
      // Pane ordinals come from a compact per-key+window snapshot
      // (`pane-ordinals/__obatch=<id>`, one row per key that has
      // ever fired, retention-pruned), NOT from re-reading the
      // sink's whole pane history — that read grew with every
      // firing ever made (quadratic over stream lifetime); the
      // snapshot is bounded by open-horizon keys. Batch-stamped
      // like the element store: a replay re-reads the same prior
      // snapshot and overwrites its own, so ordinals survive
      // retries and restarts exactly.
      val ordsDir = new java.io.File(ckpt + "/pane-ordinals")
      def snapIds: Seq[Long] = ls(ordsDir).toSeq
        .map(_.getName).filter(_.startsWith("__obatch="))
        .map(_.stripPrefix("__obatch=").toLong)
      val priorId = snapIds.filter(_ < batchId).sorted.lastOption
      // snapshot files written by the merged pane+ordinals job
      // carry the full pane schema (non-key columns null-padded by
      // the union below) — read ONLY the ordinal subset, with the
      // schema stated explicitly (key types from the pane frame +
      // the Long ordinal): parquet ignores the file's extra
      // columns, and passing the schema skips the per-firing
      // footer-inference job this read otherwise schedules (the
      // same trick as the element store's storeSchema below)
      val prior = priorId.map { id =>
        val ordsSchema = org.apache.spark.sql.types.StructType(
          keyCols.map(k => pane.schema(k)) :+
            org.apache.spark.sql.types.StructField("__pane_index",
              org.apache.spark.sql.types.LongType))
        spark.read.schema(ordsSchema)
          .parquet(s"$ordsDir/__obatch=$id")
      }
      val withIdx = prior match {
        case None => pane.withColumn("__pane_index", lit(0L))
        case Some(p) if keyCols.isEmpty =>
          pane.crossJoin(p)
        case Some(p) =>
          pane.join(p, keyCols, "left")
            .withColumn("__pane_index",
              coalesce(col("__pane_index"), lit(0L)))
      }
      // the NEXT ordinals snapshot: prior counts + this firing's
      // panes, pruned to the open horizon (an expired window can
      // never fire again, so its rows drop). Only the snapshot
      // just read and the one just written survive — the read one
      // stays until the NEXT batch so a replay of this batch can
      // still find its prior.
      val delta =
        if (keyCols.isEmpty) pane.agg(count(lit(1)).as("__delta"))
        else pane.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__delta"))
      val merged = (prior, keyCols.isEmpty) match {
        case (None, _) =>
          delta.select(keyCols.map(col) :+
            col("__delta").as("__pane_index"): _*)
        case (Some(p), true) =>
          p.crossJoin(delta).select(
            (col("__pane_index") + col("__delta"))
              .as("__pane_index"))
        case (Some(p), false) =>
          p.join(delta, keyCols, "full_outer")
            .select(keyCols.map(col) :+
              (coalesce(col("__pane_index"), lit(0L)) +
                coalesce(col("__delta"), lit(0L)))
                .as("__pane_index"): _*)
      }
      val pruned = windowEndCol(merged).fold(merged)(e =>
        merged.filter(live(e.cast("long"), st.maxEventTime, latenessMs)))
      // ONE write job and one stage → rename cycle for BOTH the
      // numbered panes and the next ordinals snapshot: the two
      // frames union under a role partition column (the ordinal
      // rows null-pad the non-key columns), so the batch pays one
      // job-schedule + commit instead of two. Idempotent publish:
      // stage under the checkpoint, then hand the pane partition to
      // the sink and move the ordinal partition to `__obatch=<id>`
      // — a replay of this batch re-publishes the identical set
      // instead of appending a duplicate. (Local-FS rename
      // protocol; an object-store deployment would swap this for
      // the committer's equivalent.)
      val stageDir = new java.io.File(ckpt + s"/pane-stage/$batchId")
      withIdx.withColumn("__graft_role", lit("pane"))
        .unionByName(
          pruned.withColumn("__graft_role", lit("ords")),
          allowMissingColumns = true)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("__graft_role")
        .parquet(stageDir.toString)
      val paneStage = new java.io.File(stageDir, "__graft_role=pane")
      val paneParts = partsIn(paneStage)
      sinkDir match {
        case None =>
          bufferPanes(cfg.name,
            if (paneParts.isEmpty) Array.empty[Row]
            else spark.read.schema(withIdx.schema)
              .parquet(paneStage.toString).collect())
        case Some(dst) =>
          // each pane part moves into the sink under a
          // batch-stamped name, after deleting any `b<id>-*`
          // leftovers from a failed prior attempt
          dst.mkdirs()
          ls(dst).filter(_.getName.startsWith(s"b$batchId-"))
            .foreach(_.delete())
          def moveIn(parts: Array[java.io.File]): Unit =
            parts.foreach { f =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(dst, s"b$batchId-${f.getName}").toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            }
          moveIn(paneParts)
          // the schema marker is needed at most ONCE per sink: any
          // parquet file already in dst (a real pane part or an
          // earlier firing's marker) carries the schema, so later
          // empty firings skip the extra write job + commit cycle.
          // A replay that just deleted its own b<id>-* marker sees
          // an empty dst again and rewrites — idempotence holds.
          if (paneParts.isEmpty && partsIn(dst).isEmpty) {
            // a firing whose pane frame is EMPTY writes no
            // __graft_role=pane partition — write a schema-bearing
            // (empty) file so a sink whose firings were all empty
            // still reads as an empty frame instead of failing
            // schema inference. limit(0): the optimizer collapses it
            // to an empty LocalRelation, so the schema file writes
            // WITHOUT re-executing the pane subtree
            val emptyDir = new java.io.File(stageDir, "pane-empty")
            withIdx.limit(0).write.mode("overwrite")
              .parquet(emptyDir.toString)
            moveIn(partsIn(emptyDir))
          }
      }
      def rmRec(f: java.io.File): Unit =
        graft.ops.FsUtil.deleteRecursively(f)
      val ordsTarget = new java.io.File(s"$ordsDir/__obatch=$batchId")
      ordsDir.mkdirs() // first batch: the parquet write used to create it
      // RECURSIVE pre-move cleanup: a failed prior attempt (or a
      // pre-merge-era crash) can leave a _temporary subdir inside
      // the target, which a flat delete would skip — Files.move
      // then throws DirectoryNotEmptyException on every replay
      if (ordsTarget.exists()) rmRec(ordsTarget)
      val ordsStage = new java.io.File(stageDir, "__graft_role=ords")
      if (ordsStage.exists())
        java.nio.file.Files.move(ordsStage.toPath, ordsTarget.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      else
        // every new ordinal row was retention-pruned (e.g. a
        // lateness-0 closing): an empty partition writes no dir,
        // but the snapshot chain needs a schema-bearing marker so
        // the next batch resets cleanly instead of resurrecting
        // the pre-prior snapshot
        pruned.write.mode("overwrite").parquet(ordsTarget.toString)
      rmRec(stageDir)
      // recursive (rmRec), not a flat delete: a stale snapshot can
      // carry a _temporary subdir from a crashed write, which a
      // flat delete skips — the dir would then leak forever
      snapIds.filter(id => id != batchId && priorId.forall(_ != id))
        .foreach(id => rmRec(new java.io.File(s"$ordsDir/__obatch=$id")))
      } finally pane.unpersist()
    }

    def applyBatch(batch0: DataFrame, batchId: Long): Unit = {
      // an accumulating firing scans the micro-batch twice (store
      // write, touched re-aggregation) — one persist cuts that to a
      // single source read; a discarding one reads it once, through
      // the pinned `touched`
      val batch = if (accumulating) batch0.persist() else batch0
      val pinned = scala.collection.mutable.ListBuffer[DataFrame](batch)
      try {
      val spark = batch.sparkSession
      // The batch's max event time (the clock) rides the batch's
      // first action as an Observation: the store write for
      // accumulating panes, the distinct-ends collect below for
      // discarding ones.
      val obs = new org.apache.spark.sql.Observation()
      val clockMetric = maxEventTimeMetric(batch, recipe)
      // batch-stamped store slice: a replayed batch OVERWRITES
      // its own slice instead of appending a duplicate, keeping
      // every later cumulative pane exact across retries/restarts.
      // Sub-partitioned by each ELEMENT's retention horizon
      // (__wend = upper bound on the latest window end the
      // element can feed, Strategy.elementRetainEnd) so clock
      // compaction drops expired elements by path even when one
      // slice mixes near and far window ends — per-batch cost
      // tracks the open-window volume, not stream lifetime.
      // The clock and the batch's horizons ride the store-write job
      // as one Observation: when the
      // horizons form an end grid (Strategy.endGrid — fixed/
      // calendar with k = 1, sliding with size = k·period), every
      // touched end follows arithmetically from the observed
      // horizons, and the separate distinct+collect job over the
      // re-aggregated batch (measured 0.6 s/firing at sf0.1) is
      // redundant.
      if (accumulating) elementEndOf match {
        case Some(endOf) =>
          // task-parallel partitioned write: up to (tasks ×
          // open horizons) files per batch, all short-lived
          // (compaction deletes whole partitions). A keyed
          // repartition(__wend) would cut that to one file per
          // horizon but funnels EVERY element of a window
          // through one task — a hot-partition at scale — so
          // parallelism wins here (measured: horizon-clustering
          // the slice did not move store-write time at sf0.1
          // either). Null-horizon rows (null event
          // time — can never feed a window in either read path)
          // are dropped here, or they'd accumulate forever in a
          // __HIVE_DEFAULT_PARTITION__ compaction never touches.
          // Replay correctness needs STATIC partition overwrite
          // (full-slice replacement); pin it on the writer so a
          // session-wide dynamic overwriteMode cannot leave a
          // failed attempt's stale __wend partitions in place.
          val slice = batch
            .withColumn("__wend", endOf(batch).cast("long"))
            .filter(col("__wend").isNotNull)
          slice.observe(obs, collect_set(col("__wend")).as("__wends"),
              clockMetric.toSeq: _*)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("__wend")
            .parquet(storeDir + s"/__gbatch=$batchId")
        case None => // global window: no horizon, no compaction
          batch.write.mode("overwrite")
            .parquet(storeDir + s"/__gbatch=$batchId")
      }
      val observing =
        if (accumulating) elementEndOf.isDefined else clockMetric.isDefined
      // blocks only until the observed action's listener fires; an
      // empty slice yields an empty set
      def observed: Map[String, Any] =
        if (observing) obs.get else Map.empty[String, Any]
      val touched = recipe.reAgg(
        if (accumulating || !observing) batch
        else batch.observe(obs, clockMetric.get)).persist()
      pinned += touched
      // the store's schema is statically known (batch columns +
      // the partition dirs) — passing it skips the per-batch
      // footer-sampling job parquet schema inference runs over
      // an ever-changing directory set
      val storeSchema = elementEndOf match {
        case Some(_) => batch.schema
          .add("__wend", org.apache.spark.sql.types.LongType)
          .add("__gbatch", org.apache.spark.sql.types.LongType)
        case None => batch.schema
          .add("__gbatch", org.apache.spark.sql.types.LongType)
      }
      def readStore(): DataFrame =
        spark.read.schema(storeSchema).parquet(storeDir)
      def storedAll(): DataFrame = readStore()
        .drop("__gbatch", "__wend")
      windowEndCol(touched) match {
        case None =>
          // global window: every firing is an early pane
          emitWithIndex(
            (if (accumulating) recipe.reAgg(storedAll()) else touched)
              .withColumn("__pane", lit("early")),
            recipe.keys, batchId)
        case Some(touchedEnd) =>
          val wPrev = st.maxEventTime
          // an element with horizon h feeds exactly the k ends
          // {h − j·period, 0 ≤ j < k} (Strategy.endGrid) — the
          // union over observed horizons IS the touched-end set
          def gridEnds(h: Long): Seq[Long] = {
            val (period, k) = elementGrid.get
            (0 until k).map(h - _ * period)
          }
          // the handful of distinct window ends in one batch —
          // bounded by windows, never by keys or rows
          val tEnds = elementGrid match {
            case Some(_) if accumulating =>
              observed("__wends").asInstanceOf[Seq[Any]]
                .map(_.asInstanceOf[Number].longValue)
                .flatMap(gridEnds).distinct
            case _ =>
              touched.select(touchedEnd.cast("long")).distinct()
                .collect().toSeq
                .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
          }
          val wNew = advanced(wPrev, observed)
          val fired = st.fired
          // late BEFORE closing registration: a window is late
          // only if its ON_TIME pane fired in a PRIOR batch
          val lateEnds = tEnds.filter(e => fired.contains(e))
          // the clock reaching a window's end closes it
          def closes(e: Long): Boolean = !expired(e, wPrev, latenessMs) &&
            e * 1000L <= wNew && !fired.contains(e)
          // the frame the panes are cut from, and the windows that
          // close in this batch: a discarding pane's elements are the
          // batch, so only touched windows close; an accumulating
          // pane's are the store, and its ON_TIME pane fires for ALL
          // keys of each newly closed window (fires without new
          // elements, like Beam's watermark-close pane).
          val (aggedAll, closingEnds) =
            if (!accumulating) (touched, tEnds.filter(closes))
            else elementGrid match {
              case Some((period, k)) =>
                // the horizon partitions on disk determine EVERY
                // candidate window end through the grid (each
                // contains the partition's elements, so no phantom
                // windows), and conversely the elements feeding a
                // fired end e live exactly in horizons
                // {e + j·period, 0 ≤ j < k}. Closing candidates come
                // from the store's partition LISTING, and the
                // re-aggregation reads only the fired ends'
                // contributing partitions — per-firing cost tracks
                // the FIRED volume, not the open horizon. An end can
                // be expired while a later horizon holding its
                // elements still lives, so the retention rule applies
                // to candidates too.
                val horizons = wendValuesOnDisk(storeDir)
                val closing = horizons.flatMap(gridEnds).distinct
                  .filter(closes)
                val needed = (tEnds ++ closing).distinct
                  .flatMap(e => (0 until k).map(e + _ * period))
                  .distinct.filter(horizons.toSet)
                val raw = readStore()
                val pruned =
                  if (needed.isEmpty) raw.where(lit(false))
                  else raw.where(col("__wend").isin(needed: _*))
                (recipe.reAgg(pruned.drop("__gbatch", "__wend")), closing)
              case None =>
                // sliding windows whose size is not a period
                // multiple: no grid, so re-aggregate the whole store
                // and read the candidates off the result
                val a = recipe.reAgg(storedAll())
                val aEnd = windowEndCol(a).get.cast("long")
                val retEnds = a.filter(live(aEnd, wPrev, latenessMs))
                    .select(aEnd).distinct().collect().toSeq
                    .flatMap(r =>
                      Option(r.get(0)).map(_.asInstanceOf[Long]))
                (a, retEnds.filter(closes))
            }
          val endSec = windowEndCol(aggedAll).get.cast("long")
          val keyCols = "window" +: recipe.keys
          // Beam expired-window drop: a discarding pane row for an
          // expired window holds only beyond-lateness elements, so
          // dropping the row drops exactly those (on the accumulating
          // grid path the dirs were already compacted to it — this is
          // the defensive second guard)
          val retained =
            aggedAll.filter(live(endSec, wPrev, latenessMs))
          // a window emits at most ONE pane per batch: a window
          // that both received elements and closed in this batch
          // emits only the ON_TIME pane — its early pane would carry
          // the identical aggregate, and a single firing keeps the
          // pane ordinal well-defined
          val earlyEnds = tEnds.filter(e =>
            e * 1000L > wPrev && !closingEnds.contains(e))
          closingEnds.foreach(e => fired.add(e))
          st.maxEventTime = wNew
          // early and late panes fire for keys with new elements
          // only — the batch holds just those keys already
          val touchedKeys = touched
            .select(keyCols.map(col): _*).distinct()
          def ofTouchedKeys(panes: DataFrame): DataFrame =
            if (accumulating) panes.join(touchedKeys, keyCols, "left_semi")
            else panes
          val early = ofTouchedKeys(retained)
            .filter(endSec.isin(earlyEnds: _*))
            .withColumn("__pane", lit("early"))
          val closing = retained
            .filter(endSec.isin(closingEnds: _*))
            .withColumn("__pane", lit("onTime"))
          val late = ofTouchedKeys(retained)
            .filter(endSec.isin(lateEnds: _*))
            .withColumn("__pane", lit("late"))
          val pane =
            if (hasLate) early.union(closing).union(late)
            else early.union(closing)
          // no window fired this batch (every touched window
          // already fired without a late firing declared, or
          // expired): nothing to
          // publish, and the ordinals snapshot is unchanged — a
          // rewrite would be a pure read+write+rename cycle, so
          // skip the whole emit (the next firing batch finds the
          // same prior snapshot; a replay of this batch re-skips)
          val willFire = earlyEnds.nonEmpty || closingEnds.nonEmpty ||
            (hasLate && lateEnds.nonEmpty)
          if (willFire) emitWithIndex(pane, keyCols, batchId)
          // store compaction, element-level: each slice is
          // partitioned by its elements' retention horizons
          // (`__wend=<epochSec>`); once a horizon expires on the
          // clock, no element in that
          // partition can contribute to any future pane — the
          // same rule the `retained` filter applies post-agg —
          // so the partition drops by path. Listing-driven (the
          // horizons live in the paths, no driver map), so
          // pre-restart slices keep compacting after a restart
          // with no snapshot state; a slice emptied of elements
          // drops wholly. Replay-safe: a replayed batch rewrites
          // its entire slice (static partition overwrite) before
          // compaction re-applies the expiry rule.
          if (accumulating) compactStore(storeDir, wNew, latenessMs)
      }
      } finally pinned.foreach(_.unpersist())
    }

    val listing =
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192"
    val srcSess = SessionBridge.cloneSession(df.sparkSession)
    srcSess.conf.set(listing._1, listing._2)
    val w = SessionBridge.withSourcesOn(recipe.preAgg, srcSess)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(
        delayMillis(trig("earlyFiringTrigger").get)))
      .option("checkpointLocation", s"$ckpt/$mode")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > st.lastBatch && hasInput(batch)) {
          applyBatch(batch, batchId)
          persistTriggerState(st, triggerStateDir, batchId, latenessMs)
          st.lastBatch = batchId
        }
      }
    val q = graft.ops.ConfScope(df.sparkSession, listing)(w.start())
    register(q)
    q
  }

  /** Beam `AfterPane.elementCountAtLeast(n)` approximation
    * (`module/Strategy.java:320`): UPDATE-mode panes pass through only
    * once the group's declared count aggregate (`countField`, a count
    * op the aggregation already computes) reaches n. */
  private def startAfterPane(cfg: ModuleCfg, df: DataFrame,
      trig: com.fasterxml.jackson.databind.JsonNode): StreamingQuery = {
    requirePaneSink(cfg)
    val n = trig.int("elementCountAtLeast").getOrElse(1)
    val countField = trig.str("countField").getOrElse(
      df.columns.find(_ == "n").getOrElse(
        throw new IllegalArgumentException(
          "afterPane requires countField naming a count aggregate")))
    val q = df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint(cfg))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val panes = batch.filter(col(countField) >= n)
          .withColumn("__pane", lit("pane"))
        cfg.module match {
          case "debug" | "memory" => bufferPanes(cfg.name, panes.collect())
          case _ =>
            panes.write.mode("append")
              .format(cfg.params.str("format").getOrElse("parquet"))
              .save(cfg.params.str("output")
                .orElse(cfg.params.str("path")).get)
        }
      }
      .start()
    register(q)
    q
  }

  /** Append pane rows to a memory/debug sink's buffer, each with its
    * `__pane` tag. */
  private def bufferPanes(sink: String, rows: Array[Row]): Unit = {
    val buf = paneStore.computeIfAbsent(sink,
      _ => scala.collection.mutable.ListBuffer.empty)
    buf.synchronized {
      rows.foreach(r => buf += ((r.getAs[String]("__pane"), r)))
    }
  }

  private def checkpoint(cfg: ModuleCfg): String =
    cfg.params.str("checkpointLocation").getOrElse(
      graft.ops.FsUtil.scratchDir(
        s"graft-ckpt-${cfg.name}-").toString)

  private def startPlain(cfg: ModuleCfg, df: DataFrame,
      trig: Option[com.fasterxml.jackson.databind.JsonNode],
      strategy: Option[com.fasterxml.jackson.databind.JsonNode] = None)
      : StreamingQuery = {
    val p = cfg.params
    // default mode: file sinks only support append (the watermark
    // plumbing exists to finalize windows for exactly this case);
    // memory/debug sinks show the running aggregate via complete
    val fileSink = cfg.module == "storage" || cfg.module == "files"
    // Beam accumulation mode from the strategy block
    // (Strategy.java:84-89,358-362): discarding → append panes;
    // accumulating → the running aggregate (complete for memory
    // sinks, update otherwise; file sinks stay append — Structured
    // Streaming cannot rewrite files). `retracting` is rejected by
    // the reference itself (Strategy.java:87) and here.
    val accMode = strategy.flatMap(_.str("mode")).map {
      case "discarding" => "append"
      case "accumulating" =>
        if (fileSink) "append"
        else if (hasAggregation(df)) "complete" else "update"
      case "retracting" => throw new IllegalArgumentException(
        "accumulation mode 'retracting' is unsupported (the reference " +
          "rejects it too)")
      case other => throw new IllegalArgumentException(
        s"accumulation mode: $other")
    }
    var w = df.writeStream
      .outputMode(p.str("outputMode").orElse(accMode).getOrElse(
        if (hasAggregation(df) && !fileSink) "complete" else "append"))
    p.str("checkpointLocation").foreach(c =>
      w = w.option("checkpointLocation", c))
    // trigger from the module's strategy (Strategy.java:232-343):
    // afterProcessingTime(delay) → ProcessingTime; batch catch-up →
    // AvailableNow; default = micro-batch ASAP
    trig match {
      case Some(t) if t.str("type").contains("afterProcessingTime") =>
        // delayMillis honors pastFirstElementDelayUnit — a hardcoded
        // *1000 here once made {delay: 500, unit: millisecond} fire
        // every 500 SECONDS
        w = w.trigger(Trigger.ProcessingTime(delayMillis(t)))
      case Some(t) if t.str("type").contains("availableNow") =>
        w = w.trigger(Trigger.AvailableNow())
      case _ =>
    }
    val q = cfg.module match {
      case "debug" | "memory" =>
        w.format("memory").queryName(cfg.name).start()
      case "storage" | "files" =>
        val path = p.str("output").orElse(p.str("path")).get
        w.format(p.str("format").getOrElse("parquet"))
          .option("path", path)
          .option("checkpointLocation",
            p.str("checkpointLocation").getOrElse(path + "/_checkpoint"))
          .start()
      case other =>
        throw new IllegalArgumentException(s"streaming sink: $other")
    }
    register(q)
    q
  }

  private def hasAggregation(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.isDefined

  /** Drain `queries` — by default every registered one (test/batch-
    * catchup helper). A query that already died is surfaced here
    * instead of silently filtered out by the isActive check. */
  def drainAll(queries: Seq[StreamingQuery] = allQueries): Unit = {
    queries.foreach { q =>
      q.exception.foreach(e => throw e)
      if (q.isActive) q.processAllAvailable()
    }
  }

  /** Drain every active query, then block until each query that
    * tracks an event-time watermark has EXECUTED a micro-batch whose
    * watermark stood at or past `ts` — the causal condition for
    * watermark-DEFERRED emissions (stream-stream outer-join null
    * rows, dropDuplicatesWithinWatermark eviction): Spark emits them
    * in the batch that RUNS with the advanced watermark, which is
    * the batch AFTER the one that moved it, and that no-new-data
    * cleanup batch is exactly what `processAllAvailable` does not
    * wait for. A progress event's `eventTime.watermark` is the
    * watermark in effect DURING that batch, so a progress at/past
    * `ts` proves the deferred rows are already committed to the
    * sink.
    *
    * Callers stage a watermark-advancing batch first (a late
    * sentinel beyond `ts` + the declared lateness on every input),
    * then call this with `ts` safely between the data horizon and
    * sentinel − lateness. Times out loudly — an under-advanced
    * watermark means the sentinel never reached the watermark node
    * (e.g. eaten by a pushed-down filter), not a slow sink. */
  def drainUntilWatermark(ts: java.time.Instant,
      timeoutMs: Long = 180000L): Unit = {
    drainAll()
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def wmOf(q: StreamingQuery): Option[java.time.Instant] =
      Option(q.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse)
    activeQueries.filter(q => wmOf(q).isDefined).foreach { q =>
      var ok = false
      while (!ok) {
        q.exception.foreach(e => throw e)
        // watermark at/past ts AND no trigger in flight: the
        // qualifying batch's output is committed before its progress
        // posts, and the idle check additionally rules out reading
        // the sink while a further batch is mid-commit
        ok = wmOf(q).exists(w => !w.isBefore(ts)) &&
          !q.status.isTriggerActive
        if (!ok) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"drainUntilWatermark: watermark ${wmOf(q).orNull} did " +
                s"not reach $ts within $timeoutMs ms — stage a " +
                "watermark-advancing batch (late sentinel past ts + " +
                "allowed lateness on EVERY input) before calling")
          Thread.sleep(50)
        }
      }
    }
  }

  def stopAll(): Unit = {
    activeQueries.foreach(_.stop())
    active.clear()
  }
}
