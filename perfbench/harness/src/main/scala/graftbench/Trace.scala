package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the harness's records. */
object J {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Spans kept in memory, one per call into a layer entry, written out
  * when the run ends. Times are epoch milliseconds with sub-ms digits
  * (a nanoTime offset from one epoch anchor) so they line up with the
  * millisecond timestamps Spark's listeners report. */
object Trace {
  @volatile var on = false
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Long, layer: String, name: String, rid: String,
      parent: Long, start: Double, var end: Double = 0.0)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  /** Time `body` as a span of `layer`. Spark jobs submitted from this
    * thread inside it carry the job group `gb-<span id>`, which is how
    * the listener attaches them to the span. */
  def span[T](sc: SparkContext, layer: String, name: String, rid: String)(
      body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val s = Span(ids.incrementAndGet(), layer, name, rid,
        outer.headOption.map(_.id).getOrElse(0L), nowMs)
      stack.set(s :: outer)
      sc.setJobGroup(s"gb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        spans.add(s)
        stack.set(outer)
        outer.headOption match {
          case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, false)
          case None => sc.clearJobGroup()
        }
      }
    }

  // ---- listener records -------------------------------------------------
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Boolean)]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()
  val stageTimes = new java.util.concurrent.ConcurrentHashMap[(Int, Int), (Double, Double)]()
  val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  val cache = new ConcurrentLinkedQueue[Map[String, Any]]()

  // per-stage sums: tasks, failed, run ms, cpu ms, gc ms, shuffle read
  // bytes, shuffle write bytes, spill bytes, output records, output bytes
  private val Metrics = 10

  /** Jobs, stages and tasks of every job, with the local properties the
    * harness and Spark set: the harness's job group and the streaming
    * query id. */
  final class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      jobs.add(Map("job" -> e.jobId, "start" -> e.time.toDouble,
        "group" -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
        "query" -> p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))),
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, (e.time.toDouble, e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageTimes.put((i.stageId, i.attemptNumber()),
        (i.submissionTime.getOrElse(0L).toDouble,
          i.completionTime.getOrElse(0L).toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val a = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new Array[Double](Metrics))
      val m = e.taskMetrics
      a.synchronized {
        a(0) += 1
        if (e.reason != org.apache.spark.Success) a(1) += 1
        if (m != null) {
          a(2) += m.executorRunTime
          a(3) += m.executorCpuTime / 1e6
          a(4) += m.jvmGCTime
          a(5) += m.shuffleReadMetrics.totalBytesRead
          a(6) += m.shuffleWriteMetrics.bytesWritten
          a(7) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(8) += m.outputMetrics.recordsWritten
          a(9) += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** Catalyst phases of every executed QueryExecution, read from its
    * QueryPlanningTracker. */
  final class PhaseListener extends QueryExecutionListener {
    private def rec(fn: String, qe: QueryExecution, ok: Boolean): Unit =
      if (on) qe.tracker.phases.foreach { case (ph, s) =>
        phases.add(Map("phase" -> ph, "func" -> fn, "ok" -> ok,
          "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
      }
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      rec(fn, qe, ok = true)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      rec(fn, qe, ok = false)
  }

  def dumpTrace(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.map(s => Map("id" -> s.id, "layer" -> s.layer,
      "name" -> s.name, "rid" -> s.rid, "parent" -> s.parent,
      "start" -> s.start, "end" -> s.end)),
    "jobs" -> jobs.asScala.toSeq.map { j =>
      val (end, ok) = Option(jobEnds.get(j("job").asInstanceOf[Int]))
        .getOrElse((j("start").asInstanceOf[Double], false))
      j ++ Map("end" -> end, "ok" -> ok)
    },
    "stages" -> stages.asScala.toSeq.map { case ((id, att), a) =>
      val (s, e) = Option(stageTimes.get((id, att))).getOrElse((0.0, 0.0))
      Map("stage" -> id, "attempt" -> att, "start" -> s, "end" -> e,
        "tasks" -> a(0), "failed" -> a(1), "run_ms" -> a(2), "cpu_ms" -> a(3),
        "gc_ms" -> a(4), "shuffle_read" -> a(5), "shuffle_write" -> a(6),
        "spill" -> a(7), "out_records" -> a(8), "out_bytes" -> a(9))
    },
    "phases" -> phases.asScala.toSeq,
    "cache" -> cache.asScala.toSeq)

  /** Samples Spark's storage status (cached RDDs and their size) every
    * 50 ms while tracing is on. */
  def startCacheSampler(sc: SparkContext): Thread = {
    val t = new Thread(() => {
      try while (!Thread.currentThread().isInterrupted) {
        if (on) {
          cache.add(Map("t" -> nowMs, "frames" -> sc.getPersistentRDDs.size,
            "mb" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0))
        }
        Thread.sleep(50)
      } catch { case _: InterruptedException => () }
    }, "perfbench-cache-sampler")
    t.setDaemon(true)
    t.start()
    t
  }
}

/** Progress of every streaming micro-batch. Registered in every stream
  * run: the event latency is computed from these records. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  // query id -> cumulative input rows per source
  val cumulative = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val rows = p.sources.map(_.numInputRows)
    val cum = cumulative.compute(p.id.toString, (_, prev) =>
      if (prev == null) rows.clone()
      else prev.zipAll(rows, 0L, 0L).map { case (a, b) => a + b })
    progress.add(Map(
      "query" -> p.id.toString, "batch" -> p.batchId, "start" -> start,
      "end" -> (start + d.getOrElse("triggerExecution", 0L)),
      "received" -> Trace.nowMs, "durations" -> d,
      "rows" -> p.numInputRows, "source_rows" -> rows.toSeq,
      "cumulative" -> cum.toSeq,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
      "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L)))
  }

  /** True once every query that has reported progress has, on every
    * source, consumed at least `rows` input rows in total. */
  def covered(rows: Long, queries: Int): Boolean = {
    val all = cumulative.values().asScala.toSeq
    all.size >= queries && all.forall(a => a.nonEmpty && a.forall(_ >= rows))
  }
}
