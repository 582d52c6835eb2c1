package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionBridge

/** Per-module logging taps (reference `module/Logging.java` — named
  * log points on any module, logged per element as data flows).
  *
  * Per-row driver logging is a non-starter at scale, so the Spark
  * mapping is `Dataset.observe`: named metrics (row count, an
  * example-value sample) collected DURING execution with zero plan
  * interference — no extra action, no UDF in the predicate path, no
  * pushdown loss — surfaced, at the configured level, when the action
  * that ran them ends (the context's SQL-execution-end events, the
  * ones a session's QueryExecutionListeners are fed from). The
  * observed metrics of the last completed action are also kept in
  * `observed` for tests and the Run CLI.
  *
  * Delivery ownership: a tap on a STREAMING frame carries a `|s`
  * marker in its metric name (set at `tap()` time, where
  * `df.isStreaming` is known). foreachBatch-drained streaming sinks
  * fire BOTH the batch leg (their inner action) and the streaming
  * progress, on independent async buses in either order — so the
  * streaming-progress leg owns `|s` metrics exclusively and the batch
  * leg skips them. Each leg then
  * emits unconditionally: one log line per batch action, one per
  * micro-batch, with no cross-bus value comparison (a value-based
  * gate would drop steady-state batches whose counts repeat, and
  * re-order across batch boundaries).
  *
  * Metrics NOT created by `tap()` (user-made `Dataset.observe`) are
  * surfaced verbatim by the batch leg and, in a session with a
  * streaming tap, by the streaming leg too; a user observe on a
  * foreachBatch-drained stream may therefore log per batch on each
  * bus — the engine's own taps never do.
  */
object LoggingTaps {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Suffix marking a tap metric observed on a streaming frame (kept
    * in the NAME so the two same-named taps of a batch and a
    * streaming pipeline sharing one session stay distinct). */
  private val StreamMark = "|s"

  /** Names `tap()` created for streaming frames — the authoritative
    * ownership set: the batch listener skips exactly these (their
    * delivery belongs to the streaming-progress leg), so a user-made
    * `Dataset.observe` whose name merely ends in "|s" is untouched.
    * One entry per configured streaming tap; bounded. */
  private val streamTapNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** metric name (`module.name|level`, marker stripped) → observed
    * values of the most recent action / micro-batch. */
  val observed = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Any]]()

  // weak keys: a strong set would pin every stopped SparkSession (and
  // its whole object graph) for the JVM lifetime in session-per-run
  // harnesses
  private def weakSet[K]() =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[K, java.lang.Boolean]()))
  private val registered = weakSet[SparkSession]()
  private val streamRegistered = weakSet[SparkSession]()
  private val contexts = weakSet[SparkContext]()

  private def emit(name: String,
      row: org.apache.spark.sql.Row): Unit = {
    // strip the marker only from our own tap names — a user metric
    // that happens to end in "|s" keeps its key verbatim
    val key = if (streamTapNames.contains(name))
      name.stripSuffix(StreamMark) else name
    val m = row.getValuesMap[Any](row.schema.fieldNames)
    observed.put(key, m)
    val (tag, level) = key.split('|') match {
      case Array(n, l) => (n, l)
      case _ => (key, "info")
    }
    val msg = s"[logging:$tag] $m"
    level match {
      case "trace" => log.trace(msg)
      case "debug" => log.debug(msg)
      case "warn" => log.warn(msg)
      case "error" => log.error(msg)
      case _ => log.info(msg)
    }
  }

  /** The batch leg: report the taps of every action `spark` runs. One
    * listener per SparkContext serves all its registered sessions —
    * a QueryExecutionListener per session would add a listener bus to
    * the context for every `/run` session clone, which stays until
    * the clone is garbage-collected. */
  def register(spark: SparkSession): Unit = {
    registered.add(spark)
    val sc = spark.sparkContext
    if (contexts.add(sc)) sc.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          SessionBridge.succeededQuery(end)
            .filter(qe => registered.contains(qe.sparkSession))
            .foreach(_.observedMetrics.foreach { case (name, row) =>
              // our streaming-tap metrics (seen here when a
              // foreachBatch inner action executes the observed plan)
              // belong to the streaming-progress leg below; everything
              // else — batch taps and user observes — emits here
              if (!streamTapNames.contains(name)) emit(name, row)
            })
        case _ =>
      }
    })
  }

  /** The streaming leg, added by the first tap on a streaming frame of
    * `spark`: streaming taps surface once per micro-batch through the
    * streaming progress, which reports each observe exactly once per
    * batch regardless of how the sink drains it. Only then: the first
    * `spark.streams` call creates the session's StreamingQueryManager,
    * whose listener bus stays on the SparkContext for good — one per
    * `/run` session clone if every tapping session made one. */
  private def registerStreaming(spark: SparkSession): Unit =
    if (streamRegistered.add(spark))
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit =
            e.progress.observedMetrics.forEach { (name, row) =>
              // unmarked metrics here are user-made Dataset.observe
              // calls on streaming frames (every tap() on a streaming
              // frame carries the marker) — surface those too rather
              // than silently dropping them
              emit(name, row)
            }
          override def onQueryTerminated(
              e: QueryTerminatedEvent): Unit = ()
        })

  /** Attach an observation tap to a module output. Metric name
    * encodes the level (and, for streaming frames, the `|s` delivery
    * marker) so the listeners — which only see the name — can honor
    * both. */
  def tap(df: DataFrame, module: String, name: String,
      level: String): DataFrame = {
    // normalize: the level and tag are embedded in the metric name,
    // so an unknown level (e.g. a config typo of "s") or a '|' in a
    // tag must not be able to forge the delivery marker or break the
    // name parse — unknown levels log at info, as before
    val lvl = level match {
      case "trace" | "debug" | "info" | "warn" | "error" => level
      case _ => "info"
    }
    val tag = s"$module.$name".replace("|", "_")
    val mark = if (df.isStreaming) StreamMark else ""
    val metric = s"$tag|$lvl$mark"
    if (df.isStreaming) {
      streamTapNames.add(metric)
      registerStreaming(df.sparkSession)
    }
    df.observe(metric, count(lit(1)).as("count"))
  }
}
