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
  * early-firing triggers, `discarding` switches to an EXACT pane
  * engine (per-micro-batch re-aggregation via [[PaneRecipes]] —
  * each pane holds only since-last-firing elements) while
  * `accumulating` runs the stateful update+append query pair.
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

  /** Pane-multiplexed triggers route through `paneWriter`, which can
    * drain to buffers and file sinks only — anything else must fail
    * at start, not with a None.get inside foreachBatch. */
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
      // accumulation mode picks the pane engine: discarding panes
      // re-aggregate each micro-batch (exact Beam semantics, any
      // aggregate type); the default/accumulating path runs the
      // stateful update+append query pair
      return if (strategy.exists(_.str("mode").contains("discarding")))
        startDiscardingEarly(cfg, df, trig.get, strategy.get)
      else if (strategy.exists(_.bool("exactPanes").getOrElse(false)))
        startAccumulatingExact(cfg, df, trig.get, strategy.get)
      else startEarlyFiring(cfg, df, trig.get)
    if (trigType == "afterPane")
      return startAfterPane(cfg, df, trig.get)
    startPlain(cfg, df, trig, strategy)
  }

  /** Trigger state of ONE pane query, created when it starts and
    * captured by its foreachBatch closure (a query's micro-batches
    * run one at a time on its own thread), so two queries never see
    * each other's state — whatever their sinks are named.
    *
    *  - `frontier`: the max window end (epoch millis) seen in batches
    *    BEFORE the current one. Beam pane timing maps onto it — a
    *    pane for a window whose end precedes the frontier fires after
    *    event time passed the window, i.e. a LATE pane; the frontier
    *    advances after each batch, mirroring how a watermark in
    *    effect during batch N was computed from batch N-1.
    *  - `fired`: windows (by end, epoch seconds) whose ON_TIME pane
    *    already fired — drives the early/onTime/late split. Bounded
    *    by the windows a run observes (coarse), not by keys.
    *  - `memPaneIdx`: per-key+window pane ordinal for exact
    *    accumulating panes on MEMORY/debug sinks (test surface — the
    *    pane buffer is driver-side anyway). File sinks derive the
    *    ordinal from their own prior output instead, keeping the
    *    driver key-free.
    *  - `lastBatch`: highest batchId already applied by an exact-pane
    *    query — a same-process micro-batch retry re-enters
    *    foreachBatch with the same id and must be a no-op (the
    *    element store, this state, and the sink were all already
    *    updated). Cross-restart replay safety comes from the on-disk
    *    layout instead: the store is batch-stamped (`__gbatch=<id>`
    *    overwritten on replay) and file-sink panes publish as
    *    `b<id>-*` files that a replay deletes before re-publishing. */
  private final class PaneState {
    var frontier: Long = Long.MinValue
    val fired = scala.collection.mutable.Set[Long]()
    val memPaneIdx = scala.collection.mutable.Map[Seq[Any], Long]()
    var lastBatch: Long = -1L
  }

  /** Window-end column of a pane batch, if windowed. */
  private def windowEndCol(batch: DataFrame): Option[Column] =
    if (batch.columns.contains("window")) Some(col("window.end"))
    else if (batch.columns.contains("window_start"))
      Some(col("window_start")) // calendar windows: start stands in
    else None

  /** The batch re-aggregation the pane engines run renders calendar
    * buckets as a SCALAR start timestamp aliased `window` (the batch
    * group column — gates read it as a date), while pane
    * frontier/fired/ordinal bookkeeping keys on `window.end`.
    * Rebuild the {start, end} struct with the END derivation the
    * RECIPE carries — computed from the aggregation's own strategy
    * at registration (the sink's strategy wins trigger/mode
    * precedence but need not declare the window), covering every
    * calendar shape via Strategy.calendarEndOf (simple, anchored,
    * N-unit, week-offset). Fixed/sliding/session re-aggregations
    * already emit the struct and pass through untouched; a scalar
    * window with no recipe derivation fails loudly rather than
    * mis-keying panes. */
  private def paneReAgg(cfg: ModuleCfg,
      recipe: PaneRecipes.Recipe): DataFrame => DataFrame = {
    df0 => {
      val df = recipe.reAgg(df0)
      if (!df.columns.contains("window") ||
          df.schema("window").dataType
            .isInstanceOf[org.apache.spark.sql.types.StructType]) df
      else recipe.windowEndOf match {
        case Some(endOf) => df.withColumn("window",
          struct(col("window").as("start"),
            endOf(col("window")).as("end")))
        case None => throw new IllegalArgumentException(
          s"${cfg.name}: pane multiplexing cannot derive window " +
            "ends for this window shape — use fixed/sliding/" +
            "calendar windows on the aggregation, or a plain trigger")
      }
    }
  }

  /** Beam `AfterWatermark.pastEndOfWindow().withEarlyFirings(...)
    * [.withLateFirings(...)]` approximation
    * (`module/Strategy.java:276-297`), pane timing keyed on the
    * event-time frontier (max window end of previous batches):
    *
    *  - update-mode query, ProcessingTime trigger of the early delay:
    *    emits panes while windows evolve. A pane whose window end is
    *    ahead of the frontier is EARLY; one behind it is a
    *    post-window refinement — LATE when `lateFiringTrigger` is
    *    declared, silently dropped otherwise (Beam fires late panes
    *    only when a late firing is configured).
    *  - append-mode query: emits each window exactly once when the
    *    watermark (delayed by allowedLateness) passes it — Beam's
    *    ON_TIME pane when lateness is 0, the closing/FINAL pane
    *    (late data folded in) when lateness > 0.
    *
    * The cost of the approximation is duplicated aggregation state —
    * the price of pane multiplexing on an engine with one output mode
    * per query. */
  private def startEarlyFiring(cfg: ModuleCfg, df: DataFrame,
      trig: com.fasterxml.jackson.databind.JsonNode): StreamingQuery = {
    requirePaneSink(cfg)
    val early = trig("earlyFiringTrigger").get
    val delayMs = delayMillis(early)
    val hasLate = trig("lateFiringTrigger").isDefined
    val st = new PaneState
    // each query needs its OWN checkpoint: a shared configured path
    // would collide on query metadata/offsets
    val earlyQ = df.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(delayMs))
      .option("checkpointLocation", checkpoint(cfg) + "/early")
      .foreachBatch(paneWriter(cfg, "early",
        tagOf = batch => windowEndCol(batch).map { end =>
          val fPrev = st.frontier
          // advance the frontier AFTER snapshotting it: panes in this
          // batch are judged against where event time stood before it
          val batchMax = batch.agg(max(end.cast("long"))).collect()
            .headOption.flatMap(r => Option(r.get(0)))
            .map(_.asInstanceOf[Long] * 1000L)
          batchMax.foreach(m => st.frontier = math.max(st.frontier, m))
          when(end.cast("long") * 1000L < fPrev, "late")
            .otherwise("early")
        }.getOrElse(lit("early")),
        post = b => if (hasLate) b else b.filter(col("__pane") =!= "late")))
      .start()
    register(earlyQ)
    val finalQ = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint(cfg) + "/final")
      .foreachBatch(paneWriter(cfg, "onTime"))
      .start()
    register(finalQ)
    finalQ
  }

  /** Beam DISCARDING accumulation with early firings — exact, not
    * approximated: each ProcessingTime micro-batch of the
    * PRE-aggregation stream holds precisely the elements that
    * arrived since the last firing, so re-aggregating the batch
    * inside foreachBatch (the [[PaneRecipes]] recipe) IS the
    * discarding pane, for every aggregate type — min/max/array_agg
    * included, which no output-delta scheme could reconstruct. One
    * stateless pass-through query; no streaming aggregation state
    * at all (the accumulating path pays for two stateful queries).
    *
    * Pane timing keys on the same event-time frontier as the
    * accumulating engine: a pane for a window whose end precedes
    * the frontier snapshot is the window's first post-close firing
    * (ON_TIME) or, if one already fired, a LATE pane — dropped
    * unless `lateFiringTrigger` is declared, like Beam. Panes fire
    * only when elements arrived (Beam's FIRE_IF_NON_EMPTY on-time
    * behavior; an element-free window close emits nothing). */
  private def startDiscardingEarly(cfg: ModuleCfg, df: DataFrame,
      trig: com.fasterxml.jackson.databind.JsonNode,
      strategy: com.fasterxml.jackson.databind.JsonNode)
      : StreamingQuery = {
    requirePaneSink(cfg)
    val recipe = PaneRecipes.lookup(df).getOrElse(
      throw new IllegalArgumentException(
        "accumulation mode 'discarding' with early firings requires " +
          "the pane sink to read a single-input aggregation module's " +
          "output directly (per-pane re-aggregation needs the " +
          "pre-aggregation stream) — move intervening transforms or " +
          "logging taps upstream of the aggregation, drop the " +
          "post-aggregation limit, or use 'accumulating'"))
    val delayMs = delayMillis(trig("earlyFiringTrigger").get)
    val hasLate = trig("lateFiringTrigger").isDefined
    val latenessMs = Strategy.allowedLatenessSeconds(strategy)
      .getOrElse(0L) * 1000L
    val st = new PaneState
    val ckpt = checkpoint(cfg)
    val triggerStateDir = new java.io.File(ckpt + "/trigger-state")
    restoreTriggerState(st, triggerStateDir)
    val q = recipe.preAgg.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(delayMs))
      .option("checkpointLocation", ckpt + "/discarding")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (hasInput(batch)) {
          val agged = paneReAgg(cfg, recipe)(batch)
          windowEndCol(agged) match {
            case None => // global window: every firing is early
              paneWriter(cfg, "early")(agged, id)
            case Some(end) =>
              val endSec = end.cast("long")
              val fPrev = st.frontier
              // Beam expired-window drop: a pane row for a window
              // whose end + allowedLateness the frontier already
              // passed contains only beyond-lateness elements —
              // dropping the row drops exactly those elements (each
              // pane aggregates one window of this batch only)
              val pane =
                if (fPrev == java.lang.Long.MIN_VALUE) agged
                else agged.filter(
                  endSec * 1000L + latenessMs >= fPrev)
              // the handful of distinct window ends in one batch —
              // bounded by windows, never by keys or rows
              val ends = pane.select(endSec).distinct().collect()
                .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
              if (ends.nonEmpty)
                st.frontier = math.max(st.frontier, ends.max * 1000L)
              val tagOf = ends.map { e =>
                e -> (if (e * 1000L >= fPrev) "early"
                else if (st.fired.add(e)) "onTime"
                else "late")
              }.toMap
              val tagExpr = tagOf.foldLeft(lit("early")) {
                case (acc, (e, t)) => when(endSec === e, t).otherwise(acc)
              }
              paneWriter(cfg, "early", tagOf = _ => tagExpr,
                post = b =>
                  if (hasLate) b
                  else b.filter(col("__pane") =!= "late"))(pane, id)
          }
          persistTriggerState(st, triggerStateDir, id, latenessMs)
        }
      }
      .start()
    register(q)
    q
  }

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
    * offsets only): after each batch the frontier and the
    * fired-window set roll under the checkpoint as a batch-stamped
    * JSON snapshot, and a restart restores the latest one — so pane
    * TIMING (not just values, which were already replay-exact via
    * batch stamping) is identical across a kill/restart. Without it
    * a window that closed just before a crash re-fired tagged
    * `early` until the frontier re-passed its end. (Store compaction
    * needs no snapshot state: the element store's retention horizons
    * live in its `__wend=` partition paths, so pre-restart slices
    * keep compacting from the directory listing alone.) Snapshots
    * are tiny — one long plus the open-horizon window ends; fired
    * ends expired beyond allowedLateness are pruned on write, which
    * also bounds the set. The latest two snapshots survive (current
    * + prior) so a replayed batch can overwrite its own and still
    * find its predecessor. */
  private def persistTriggerState(st: PaneState, dir: java.io.File,
      batchId: Long, latenessMs: Long): Unit = {
    dir.mkdirs()
    val o = graft.config.Json.obj()
    if (st.frontier != Long.MinValue) o.put("frontier", st.frontier)
    // expired windows can never fire again
    st.fired.filterInPlace(e => e * 1000L + latenessMs >= st.frontier)
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

  private def triggerSnapIds(dir: java.io.File): Seq[Long] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
      .map(_.getName)
      .filter(n => n.startsWith("__tbatch=") && n.endsWith(".json"))
      .map(_.stripPrefix("__tbatch=").stripSuffix(".json").toLong)

  /** Restore the latest trigger-state snapshot, if the checkpoint has
    * one (a fresh checkpoint starts fresh — reusing a checkpoint dir
    * IS the restart contract, exactly as for offsets). */
  private def restoreTriggerState(st: PaneState,
      dir: java.io.File): Unit =
    triggerSnapIds(dir).sorted.lastOption.foreach { id =>
      val n = graft.config.Json.parse(new String(
        java.nio.file.Files.readAllBytes(
          new java.io.File(dir, s"__tbatch=$id.json").toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      n.long("frontier").foreach(st.frontier = _)
      n.arrOf("fired").foreach(e => st.fired += e.asLong)
    }

  /** Distinct retention horizons present in the element store's
    * partition paths — for fixed/calendar windows these ARE the
    * window ends on disk, so the accumulating engine derives its
    * closing-candidate set from this listing instead of a full
    * re-aggregation. */
  private def wendValuesOnDisk(storeDir: String): Seq[Long] = {
    def ls(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    ls(new java.io.File(storeDir))
      .filter(_.getName.startsWith("__gbatch="))
      .flatMap(g => ls(g).map(_.getName)
        .filter(_.startsWith("__wend="))
        .flatMap(_.stripPrefix("__wend=").toLongOption))
      .distinct.toSeq
  }

  /** Frontier-driven element-store compaction: delete every
    * `__wend=E` partition (under any `__gbatch=` slice) whose
    * retention horizon E (plus allowedLateness) is behind the
    * frontier, then drop slices left
    * with no element partitions. Unparseable partition names (e.g. a
    * null-horizon `__HIVE_DEFAULT_PARTITION__`) are kept — safety
    * over space. */
  private def compactStore(storeDir: String, frontierMs: Long,
      latenessMs: Long): Unit = {
    def ls(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
    ls(new java.io.File(storeDir))
      .filter(_.getName.startsWith("__gbatch=")).foreach { g =>
        var hadWend = false
        ls(g).filter(_.getName.startsWith("__wend=")).foreach { p =>
          hadWend = true
          p.getName.stripPrefix("__wend=").toLongOption.foreach { e =>
            if (e * 1000L + latenessMs < frontierMs) {
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
  }

  /** Beam ACCUMULATING accumulation with early firings — exact, not
    * approximated, opt-in via `strategy.exactPanes: true` (the
    * default accumulating path stays the stateful update+append
    * query pair, which is the scale path for combinable aggregates).
    *
    * Each accumulating pane is the aggregate over ALL elements of
    * the window so far — exact for every aggregate type only by
    * re-aggregating the retained pre-agg elements, so each batch
    * appends its pre-agg rows to a parquet element store under the
    * checkpoint dir and the pane re-aggregates the store. This
    * retains raw elements for open windows (bounded by horizon ×
    * rate, MORE than Beam's combiner state — the exactness price).
    * The store compacts at ELEMENT granularity: slices partition by
    * each element's retention horizon (`__wend`), and the frontier
    * (plus allowedLateness) drops expired partitions by path — so
    * per-batch re-aggregation cost tracks open-window volume, not
    * stream lifetime.
    *
    * Pane scope and metadata mirror Beam PaneInfo:
    *  - firings are per key+window: only keys with new elements fire
    *    (semi-join on the recipe's group keys), except the ON_TIME
    *    closing pane, which fires once per window for ALL its keys
    *    when the event-time frontier passes the window end — Beam's
    *    watermark-close pane, which fires regardless of new data.
    *  - `__pane` = early | onTime | late (late panes dropped unless
    *    `lateFiringTrigger` is declared, like Beam); timing keys on
    *    the same frontier as the discarding engine.
    *  - `__pane_index` = the ordinal of this firing for its
    *    key+window (0-based): file sinks roll a compact per-key
    *    ordinals snapshot under the checkpoint (batch-stamped,
    *    retention-pruned — NOT a rescan of the sink's pane history,
    *    which would grow with every firing ever made), memory sinks
    *    count in the pane buffer's driver map. File sinks must be
    *    parquet.
    *
    * Replay safety: the element store, sink files, and ordinals
    * snapshot are all batch-stamped, so micro-batch retries and
    * restarts never duplicate VALUES — and pane TIMING survives too:
    * the frontier/fired-window maps roll under the checkpoint as
    * batch-stamped trigger-state snapshots (persistTriggerState,
    * Beam's persistent trigger state made concrete), so a restart
    * restores exactly where event time stood and a window that
    * closed just before the crash stays closed instead of re-firing
    * early. */
  private def startAccumulatingExact(cfg: ModuleCfg, df: DataFrame,
      trig: com.fasterxml.jackson.databind.JsonNode,
      strategy: com.fasterxml.jackson.databind.JsonNode)
      : StreamingQuery = {
    requirePaneSink(cfg)
    // the exact-pane trigger bookkeeping (fired windows, frontier,
    // per-window ordinals) is keyed on a window's END, which for
    // fixed/sliced-sliding windows is immutable. A session window's
    // end EXTENDS as elements arrive and sessions merge, so an
    // extended session would read as a brand-new window — re-firing
    // onTime panes and corrupting ordinals. Silent wrong panes are
    // worse than a loud gap: fail with the alternative named.
    strategy("window").flatMap(_.str("type")).foreach(wt =>
      require(wt != "session",
        s"${cfg.name}: exactPanes does not support session windows " +
          "(a session's identity — its end — extends as elements " +
          "arrive and sessions merge, so end-keyed pane bookkeeping " +
          "would re-fire closed panes) — drop exactPanes to use the " +
          "stateful session aggregation, or use fixed/sliding windows"))
    val recipe = PaneRecipes.lookup(df).getOrElse(
      throw new IllegalArgumentException(
        "exactPanes accumulating requires the pane sink to read a " +
          "single-input aggregation module's output directly " +
          "(per-pane re-aggregation needs the pre-aggregation " +
          "stream) — move intervening transforms upstream of the " +
          "aggregation or drop exactPanes"))
    val isMem = cfg.module == "debug" || cfg.module == "memory"
    val fmt = cfg.params.str("format").getOrElse("parquet")
    if (!isMem) require(fmt == "parquet",
      s"exactPanes file sinks must be parquet (got $fmt): the pane " +
        "ordinal is derived by reading the sink's own prior output")
    val sinkPath = if (isMem) None
      else Some(cfg.params.str("output").orElse(cfg.params.str("path"))
        .getOrElse(throw new IllegalArgumentException(
          s"${cfg.name}: storage pane sink requires output/path")))
    val delayMs = delayMillis(trig("earlyFiringTrigger").get)
    val hasLate = trig("lateFiringTrigger").isDefined
    val latenessMs = Strategy.allowedLatenessSeconds(strategy)
      .getOrElse(0L) * 1000L
    val st = new PaneState
    val ckpt = checkpoint(cfg)
    val storeDir = ckpt + "/acc-elements"
    val triggerStateDir = new java.io.File(ckpt + "/trigger-state")
    restoreTriggerState(st, triggerStateDir)

    def emitWithIndex(pane0: DataFrame, keyCols: Seq[String],
        batchId: Long): Unit = {
      // the pane frame re-aggregates the element store; it feeds
      // both the sink publish and the ordinals delta, so pin it —
      // otherwise each action re-reads and re-aggregates the store
      val pane = if (isMem) pane0 else pane0.persist()
      try {
      val spark = pane.sparkSession
      if (isMem) {
        val rows = pane.collect()
        val counts = st.memPaneIdx
        val buf = paneStore.computeIfAbsent(cfg.name,
          _ => scala.collection.mutable.ListBuffer.empty)
        buf.synchronized {
          rows.foreach { r =>
            val kt = keyCols.map(k => r.getAs[Any](k))
            val idx = counts.getOrElse(kt, 0L)
            counts(kt) = idx + 1
            val schema = r.schema.add("__pane_index",
              org.apache.spark.sql.types.LongType)
            val withIdx: Row =
              new org.apache.spark.sql.catalyst.expressions
                .GenericRowWithSchema(r.toSeq.toArray :+ idx, schema)
            buf += ((r.getAs[String]("__pane"), withIdx))
          }
        }
      } else {
        // Pane ordinals come from a compact per-key+window snapshot
        // (`pane-ordinals/__obatch=<id>`, one row per key that has
        // ever fired, retention-pruned), NOT from re-reading the
        // sink's whole pane history — that read grew with every
        // firing ever made (quadratic over stream lifetime); the
        // snapshot is bounded by open-horizon keys. Batch-stamped
        // like the element store: a replay re-reads the same prior
        // snapshot and overwrites its own, so ordinals survive
        // retries exactly.
        val ordsDir = new java.io.File(ckpt + "/pane-ordinals")
        def snapIds: Seq[Long] = Option(ordsDir.listFiles())
          .getOrElse(Array.empty[java.io.File]).toSeq
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
        // same trick as the element store's storeSchema above)
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
        val pruned = windowEndCol(merged) match {
          case Some(e) =>
            val f = st.frontier
            if (f == Long.MinValue) merged
            else merged.filter(
              e.cast("long") * 1000L + latenessMs >= f)
          case None => merged
        }
        // ONE write job and one stage → rename cycle for BOTH the
        // pane publish and the next ordinals snapshot: the two
        // frames union under a role partition column (the ordinal
        // rows null-pad the non-key columns), so the batch pays one
        // job-schedule + commit instead of two. Idempotent publish:
        // stage under the checkpoint, then move each pane part file
        // into the sink under a batch-stamped name (deleting any
        // `b<id>-*` leftovers from a failed prior attempt first) and
        // the ordinal partition to `__obatch=<id>` — a replay of
        // this batch re-publishes the identical set instead of
        // appending a duplicate. (Local-FS rename protocol; an
        // object-store deployment would swap this for the
        // committer's equivalent.)
        val stageDir = new java.io.File(ckpt + s"/pane-stage/$batchId")
        withIdx.withColumn("__graft_role", lit("pane"))
          .unionByName(
            pruned.withColumn("__graft_role", lit("ords")),
            allowMissingColumns = true)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("__graft_role")
          .parquet(stageDir.toString)
        val dst = new java.io.File(sinkPath.get)
        dst.mkdirs()
        Option(dst.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.startsWith(s"b$batchId-"))
          .foreach(_.delete())
        val paneStage = new java.io.File(stageDir, "__graft_role=pane")
        val paneParts = Option(paneStage.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet"))
        paneParts.foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(dst, s"b$batchId-${f.getName}").toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        // the schema marker is needed at most ONCE per sink: any
        // parquet file already in dst (a real pane part or an
        // earlier firing's marker) carries the schema, so later
        // empty firings skip the extra write job + commit cycle
        // (the per-firing version partially refunded the merged-
        // write savings on sinks with frequent empty panes). A
        // replay that just deleted its own b<id>-* marker sees an
        // empty dst again and rewrites — idempotence holds.
        val dstHasSchema = Option(dst.listFiles())
          .getOrElse(Array.empty[java.io.File])
          .exists(_.getName.endsWith(".parquet"))
        if (paneParts.isEmpty && !dstHasSchema) {
          // a firing whose pane frame is EMPTY writes no
          // __graft_role=pane partition — mirror the ordinals
          // fallback with a schema-bearing (empty) file so a sink
          // whose firings were all empty still reads as an empty
          // frame instead of failing schema inference. limit(0):
          // the optimizer collapses it to an empty LocalRelation,
          // so the schema file writes WITHOUT re-executing the
          // pane subtree (paneParts.isEmpty already proved 0 rows)
          val emptyDir = new java.io.File(stageDir, "pane-empty")
          withIdx.limit(0).write.mode("overwrite")
            .parquet(emptyDir.toString)
          Option(emptyDir.listFiles())
            .getOrElse(Array.empty[java.io.File])
            .filter(_.getName.endsWith(".parquet"))
            .foreach { f =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(dst, s"b$batchId-${f.getName}").toPath,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
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
      }
      } finally if (!isMem) pane.unpersist()
    }

    // partition discovery stays on the driver: past 32 paths Spark
    // launches a distributed LISTING JOB per micro-batch — for the
    // element store read, which routinely holds (slices × open
    // horizons) > 32 dirs, bounded by the open-window horizon (the
    // same listing already runs driver-side for compaction), and for
    // the file source whenever a micro-batch picks up > 32 new files
    // (0.2-1.2 s per batch measured on a backlogged 4-core stream).
    // The store is read through the query's session, cloned at
    // start(); the source lists through the session that created it,
    // so it is re-created on a private clone. Neither touches the
    // caller's session once start() returns.
    val listing =
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "8192"
    val srcSess = SessionBridge.cloneSession(df.sparkSession)
    srcSess.conf.set(listing._1, listing._2)
    val w = SessionBridge.withSourcesOn(recipe.preAgg, srcSess)
      .writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(delayMs))
      .option("checkpointLocation", ckpt + "/accumulating")
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        if (batchId > st.lastBatch && hasInput(batch0)) {
          // the micro-batch is scanned several times per firing
          // (store write, touched re-aggregation, distinct-ends
          // collect, touched-keys projection) — one persist cuts
          // that to a single source read
          val batch = batch0.persist()
          val pinned = scala.collection.mutable.ListBuffer[DataFrame](batch)
          try {
          val spark = batch.sparkSession
          // batch-stamped store slice: a replayed batch OVERWRITES
          // its own slice instead of appending a duplicate, keeping
          // every later cumulative pane exact across retries/restarts.
          // Sub-partitioned by each ELEMENT's retention horizon
          // (__wend = upper bound on the latest window end the
          // element can feed, Strategy.elementRetainEnd) so frontier
          // compaction drops expired elements by path even when one
          // slice mixes near and far window ends — per-batch cost
          // tracks the open-window volume, not stream lifetime.
          // touched-window ends ride the store-write job as an
          // Observation (r22, guide §1.4/§5 — one job instead of
          // two per firing): when the horizon IS the window end
          // (exact: fixed/calendar) or determines every candidate
          // end arithmetically (grid: sliding with size = k·period,
          // the same no-phantom-windows argument the closing-
          // candidate derivation below relies on), the separate
          // distinct+collect job over the re-aggregated batch
          // (measured 0.6 s/firing at sf0.1) is redundant.
          val obsEnds =
            if (recipe.elementEndExact || recipe.elementGrid.isDefined)
              Some(new org.apache.spark.sql.Observation())
            else None
          var obsWends: Option[Array[Long]] = None
          recipe.elementEndOf match {
            case Some(endOf) =>
              // task-parallel partitioned write: up to (tasks ×
              // open horizons) files per batch, all short-lived
              // (compaction deletes whole partitions). A keyed
              // repartition(__wend) would cut that to one file per
              // horizon but funnels EVERY element of a window
              // through one task — a hot-partition at scale — so
              // parallelism wins here (measured r22: horizon-
              // clustering the slice did not move store-write time
              // at sf0.1 either). Null-horizon rows (null event
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
              val observed = obsEnds.fold(slice)(o => slice.observe(
                o, org.apache.spark.sql.functions.collect_set(
                  col("__wend")).as("__wends")))
              observed.write.mode("overwrite")
                .option("partitionOverwriteMode", "static")
                .partitionBy("__wend")
                .parquet(storeDir + s"/__gbatch=$batchId")
              // blocks only until the just-finished write job's
              // listener fires; empty slices yield an empty set,
              // matching the old path's empty collect
              obsWends = obsEnds.map(_.get("__wends")
                .asInstanceOf[Seq[Any]]
                .map(_.asInstanceOf[Number].longValue).toArray)
            case None => // global window: no horizon, no compaction
              batch.write.mode("overwrite")
                .parquet(storeDir + s"/__gbatch=$batchId")
          }
          val reAgg = paneReAgg(cfg, recipe)
          val touched = reAgg(batch).persist()
          pinned += touched
          // the store's schema is statically known (batch columns +
          // the partition dirs) — passing it skips the per-batch
          // footer-sampling job parquet schema inference runs over
          // an ever-changing directory set
          val storeSchema = recipe.elementEndOf match {
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
              // global window: every firing is a cumulative early pane
              emitWithIndex(
                reAgg(storedAll()).withColumn("__pane", lit("early")),
                recipe.keys, batchId)
            case Some(_) =>
              val fPrev = st.frontier
              val tEnds = obsWends match {
                // exact: horizon == the element's one window end.
                // grid: an element with horizon h feeds exactly the
                // k ends {h − j·period, 0 ≤ j < k} (a half-open
                // interval of length k·period holds exactly k grid
                // points, the largest being h) — the union over
                // observed horizons IS the touched-end set.
                case Some(ws) =>
                  if (recipe.elementEndExact) ws
                  else {
                    val (period, k) = recipe.elementGrid.get
                    ws.flatMap(h => (0 until k).map(h - _ * period))
                      .distinct
                  }
                case None =>
                  touched.select(windowEndCol(touched).get
                    .cast("long")).distinct().collect()
                    .flatMap(r =>
                      Option(r.get(0)).map(_.asInstanceOf[Long]))
              }
              val fNew = math.max(fPrev,
                if (tEnds.isEmpty) fPrev else tEnds.max * 1000L)
              val fired = st.fired
              // late BEFORE closing registration: a window is late
              // only if its ON_TIME pane fired in a PRIOR batch
              val lateEnds = tEnds.filter(e => fired.contains(e))
              // frontier crossing closes windows: ON_TIME pane for
              // ALL keys of each newly closed window (fires without
              // new elements, like Beam's watermark-close pane).
              // When the store horizon IS the window end
              // (fixed/calendar — every element feeds exactly one
              // window), the re-aggregation reads ONLY the windows
              // firing this batch: closing candidates come from the
              // store's partition LISTING (compaction already
              // enforces retention on the dirs) and the scan prunes
              // on __wend — per-batch read cost tracks the FIRED
              // volume, not the whole open horizon. Sliding windows
              // (one element, several windows) keep the full read.
              val (aggedAll, closingEnds) =
                if (recipe.elementEndExact && recipe.elementEndOf.isDefined) {
                  val closing = wendValuesOnDisk(storeDir).filter(e =>
                    e * 1000L < fNew && !fired.contains(e))
                  val firedEnds = (tEnds ++ closing).distinct.toSeq
                  val raw = readStore()
                  val pruned =
                    if (firedEnds.isEmpty) raw.where(lit(false))
                    else raw.where(col("__wend").isin(firedEnds: _*))
                  (reAgg(pruned.drop("__gbatch", "__wend")), closing)
                } else recipe.elementGrid match {
                  case Some((period, k)) if recipe.elementEndOf.isDefined =>
                    // sliding with size = k·period: the horizon
                    // partitions on disk determine EVERY candidate
                    // window end arithmetically ({h − j·period,
                    // 0 ≤ j < k} per horizon h — each contains the
                    // partition's elements, so no phantom windows),
                    // and conversely the elements feeding a fired
                    // end e live exactly in horizons {e + j·period}.
                    // The re-aggregation therefore reads only the
                    // fired ends' contributing partitions — per-
                    // firing cost tracks FIRED volume like the
                    // fixed/calendar path, not the open horizon. An
                    // end can be expired while its elements' later
                    // horizon still lives, so the frontier+lateness
                    // retention filter applies to candidates too
                    // (the full-read path applied it post-agg).
                    val horizons = wendValuesOnDisk(storeDir)
                    val closing = horizons
                      .flatMap(h => (0 until k).map(h - _ * period))
                      .distinct
                      .filter(e =>
                        (fPrev == java.lang.Long.MIN_VALUE ||
                          e * 1000L + latenessMs >= fPrev) &&
                        e * 1000L < fNew && !fired.contains(e))
                    val firedEnds = (tEnds ++ closing).distinct.toSeq
                    val needed = firedEnds
                      .flatMap(e => (0 until k).map(e + _ * period))
                      .distinct.filter(horizons.toSet)
                    val raw = readStore()
                    val pruned =
                      if (needed.isEmpty) raw.where(lit(false))
                      else raw.where(col("__wend").isin(needed: _*))
                    (reAgg(pruned.drop("__gbatch", "__wend")), closing)
                  case _ =>
                    val a = reAgg(storedAll())
                    val aEnd = windowEndCol(a).get.cast("long")
                    val live =
                      if (fPrev == java.lang.Long.MIN_VALUE) a
                      else a.filter(aEnd * 1000L + latenessMs >= fPrev)
                    val retEnds = live.select(aEnd).distinct().collect()
                      .flatMap(r =>
                        Option(r.get(0)).map(_.asInstanceOf[Long]))
                    (a, retEnds.filter(e =>
                      e * 1000L < fNew && !fired.contains(e)).toSeq)
                }
              val endSec = windowEndCol(aggedAll).get.cast("long")
              val keyCols = (Seq("window", "window_start")
                .filter(aggedAll.columns.contains) ++ recipe.keys).distinct
              // expired-window drop, same rule as the discarding
              // engine (on the pruned path the dirs were already
              // compacted to it — this is the defensive second guard)
              val retained =
                if (fPrev == java.lang.Long.MIN_VALUE) aggedAll
                else aggedAll.filter(
                  endSec * 1000L + latenessMs >= fPrev)
              // a window emits at most ONE pane per batch: a window
              // that both received elements and closed in this batch
              // emits only the (cumulative) ON_TIME pane — its early
              // pane would carry the identical aggregate, and a
              // single firing keeps the pane ordinal well-defined
              val earlyEnds = tEnds.filter(e =>
                e * 1000L >= fPrev && !closingEnds.contains(e))
              closingEnds.foreach(e => fired.add(e))
              st.frontier = fNew
              val touchedKeys = touched
                .select(keyCols.map(col): _*).distinct()
              val early = retained
                .join(touchedKeys, keyCols, "left_semi")
                .filter(endSec.isin(earlyEnds: _*))
                .withColumn("__pane", lit("early"))
              val closing = retained
                .filter(endSec.isin(closingEnds: _*))
                .withColumn("__pane", lit("onTime"))
              val late = retained
                .join(touchedKeys, keyCols, "left_semi")
                .filter(endSec.isin(lateEnds: _*))
                .withColumn("__pane", lit("late"))
              val pane =
                if (hasLate) early.union(closing).union(late)
                else early.union(closing)
              // no window fired this batch (elements arrived but
              // everything stays early-pending behind the frontier,
              // or all ends were already fired+expired): nothing to
              // publish, and the ordinals snapshot is unchanged — a
              // rewrite would be a pure read+write+rename cycle, so
              // skip the whole emit (the next firing batch finds the
              // same prior snapshot; a replay of this batch re-skips)
              val willFire = earlyEnds.nonEmpty || closingEnds.nonEmpty ||
                (hasLate && lateEnds.nonEmpty)
              if (willFire) emitWithIndex(pane, keyCols, batchId)
              // store compaction, element-level: each slice is
              // partitioned by its elements' retention horizons
              // (`__wend=<epochSec>`); once the frontier (plus
              // lateness) passes a horizon, no element in that
              // partition can contribute to any future pane — the
              // same rule the `retained` filter applies post-agg —
              // so the partition drops by path. Listing-driven (the
              // horizons live in the paths, no driver map), so
              // pre-restart slices keep compacting after a restart
              // with no snapshot state; a slice emptied of elements
              // drops wholly. Replay-safe: a replayed batch rewrites
              // its entire slice (static partition overwrite) before
              // compaction re-applies the frontier rule.
              compactStore(storeDir, fNew, latenessMs)
          }
          persistTriggerState(st, triggerStateDir, batchId, latenessMs)
          st.lastBatch = batchId
          ()
          } finally pinned.foreach(_.unpersist())
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
      .foreachBatch(paneWriter(cfg, "pane",
        pre = b => b.filter(col(countField) >= n)))
      .start()
    register(q)
    q
  }

  /** foreachBatch body: tag panes (fixed `tag` or per-row `tagOf`
    * column), then append to the sink (memory buffer or files). */
  private def paneWriter(cfg: ModuleCfg, tag: String,
      pre: DataFrame => DataFrame = identity,
      tagOf: DataFrame => Column = null,
      post: DataFrame => DataFrame = identity)
      : (DataFrame, Long) => Unit = { (batch, _) =>
    val tagCol = Option(tagOf).map(_(batch)).getOrElse(lit(tag))
    val tagged = post(pre(batch).withColumn("__pane", tagCol))
    cfg.module match {
      case "debug" | "memory" =>
        val rows = tagged.collect()
        val buf = paneStore.computeIfAbsent(cfg.name,
          _ => scala.collection.mutable.ListBuffer.empty)
        buf.synchronized {
          rows.foreach(r => buf += ((r.getAs[String]("__pane"),
            r)))
        }
      case _ =>
        val path = cfg.params.str("output")
          .orElse(cfg.params.str("path")).get
        tagged.write.mode("append")
          .format(cfg.params.str("format").getOrElse("parquet"))
          .save(path)
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
