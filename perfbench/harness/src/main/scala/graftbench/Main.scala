package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.{Pipeline, Server}
import graft.config.{ConfigLoader, Json}
import graft.config.Json._
import graft.operators.SinkExecutor
import graft.streaming.StreamRunner
import org.apache.spark.sql.SparkSession

/** One workload run in a fresh JVM, driven through graft's public entry
  * points. Reads `<work>/plan.json` (made by perfbench/gen.py) and writes
  * `<work>/result.json`: raw samples, hygiene breaches and, when traced,
  * the spans and listener records. perfbench/run.py turns those into
  * metrics and checks the outputs.
  *
  *   --workload batch|server|stream --work DIR --seconds S --trace 0|1
  */
object Main {
  val cores = 4

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val traced = opt.get("trace").contains("1")
    val plan = Json.parse(Files.readString(work.resolve("plan.json")))
    val scratch = work.resolve("scratch")
    Files.createDirectories(scratch)
    graft.ops.FsUtil.scratchRoot = scratch

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val confBefore = spark.conf.getAll

    val out = mutable.LinkedHashMap[String, Any]("workload" -> opt("workload"),
      "traced" -> traced)
    val failures = mutable.ArrayBuffer[String]()
    if (traced) {
      spark.sparkContext.addSparkListener(new Trace.JobListener)
      spark.listenerManager.register(new Trace.PhaseListener)
    }
    val sampler = if (traced) Some(Trace.startCacheSampler(spark.sparkContext)) else None
    val seconds = opt("seconds").toDouble
    val w = new Workloads(spark, plan, work, seconds, traced, out, failures)
    try opt("workload") match {
      case "batch" => w.batch()
      case "server" => w.server()
      case "stream" => w.stream()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        failures += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
    }
    sampler.foreach(_.interrupt())
    Trace.on = false

    // run hygiene: no stream left running, no scratch dir left behind,
    // the session conf exactly as it was
    if (spark.streams.active.nonEmpty || StreamRunner.activeQueries.nonEmpty) {
      failures += s"leaked streams: ${spark.streams.active.length}"
      StreamRunner.stopAll()
      spark.streams.active.foreach(_.stop())
    }
    Option(scratch.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      failures += s"leftover scratch dir: ${f.getName}"
    }
    // a key whose value a reader sees changed is a failure; a key left
    // explicitly set to the very default it had is reported on its own
    // line: the value is unchanged, but "is it user-set?" probes now
    // read it as set
    val confAfter = spark.conf.getAll
    val defaults = org.apache.spark.sql.internal.SQLConf.get.getAllDefinedConfs
      .map(c => c._1 -> c._2).toMap
    val notes = mutable.ArrayBuffer[String]()
    (confBefore.keySet ++ confAfter.keySet).filter(k => confBefore.get(k) != confAfter.get(k))
      .foreach { k =>
        val msg = s"session conf changed: $k ${confBefore.get(k)} -> ${confAfter.get(k)}"
        if (confBefore.get(k).isEmpty && confAfter.get(k) == defaults.get(k))
          notes += s"$msg (explicitly set to its default)"
        else failures += msg
      }
    out("conf_notes") = notes.toSeq

    out("peak_rss_mb") = peakRssMb
    out("failures") = failures.toSeq
    if (traced) out("trace") = Trace.dumpTrace()
    spark.stop()
    Files.writeString(work.resolve("result.json"), J(out))
    System.exit(0)
  }

  /** VmHWM of this JVM: the peak resident set size. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

final class Workloads(spark: SparkSession, plan: JsonNode, work: Path,
    seconds: Double, traced: Boolean,
    out: mutable.Map[String, Any], failures: mutable.Buffer[String]) {

  private val sc = spark.sparkContext
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private def now: Double = Trace.nowMs
  /** Set-up time: JVM and SparkSession start plus the first (cold)
    * operation, what each graft.Run invocation pays. */
  private def setupDone(): Unit =
    out("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
  private def span[T](layer: String, name: String, rid: String)(body: => T): T =
    Trace.span(sc, layer, name, rid)(body)

  // ---- batch: a closed loop of one client running Pipeline.execute -------
  def batch(): Unit = {
    val cfg = plan.str("config").get
    def args(i: Int) = Map("out" -> work.resolve(s"out/r$i").toString)
    def plain(i: Int): Double = {
      val t = now
      Pipeline.execute(spark, cfg, args(i))
      now - t
    }
    // the traced form of Pipeline.execute: the same build and sink calls,
    // each timed as a span
    def tracedRun(i: Int): Double = {
      val t = now
      val rid = s"r$i"
      span("harness", "pipeline.execute", rid) {
        val resolved = span("config", "ConfigLoader.resolve", rid) {
          ConfigLoader.resolve(cfg, args(i))
        }
        val scope = graft.ops.CacheTracker.beginScope()
        try {
          val built = span("pipeline", "Pipeline.build", rid) {
            Pipeline.build(spark, cfg, args(i))
          }
          resolved.root.arrOf("sinks").foreach { n =>
            val name = n.str("name").get
            val mc = Pipeline.ModuleCfg(name, n.str("module").get,
              n.strArr("inputs") ++ n.str("input").toSeq, n.strArr("waits"),
              n("parameters").getOrElse(Json.obj()), n)
            span("sink", s"SinkExecutor.execute:$name", rid) {
              SinkExecutor.execute(spark, mc, built.get(name), None)
            }
          }
        } finally scope.close(release = true)
      }
      now - t
    }
    // the cold run: traced too in a traced run, for the set-up split
    Trace.on = traced
    if (traced) tracedRun(0) else plain(0)
    Trace.on = false
    val runs = mutable.ArrayBuffer[Map[String, Any]](Map("run" -> 0, "cold" -> true))
    setupDone()
    val t0 = now
    var i = 1
    while ((now - t0) < seconds * 1000 || i <= 3) {
      val tr = traced && i % 2 == 1
      Trace.on = tr
      val ms = if (tr) tracedRun(i) else plain(i)
      Trace.on = false
      runs += Map("run" -> i, "ms" -> ms, "traced" -> tr, "cold" -> false)
      i += 1
    }
    out("wall_ms") = now - t0
    out("runs") = runs.toSeq
  }

  // ---- server: a closed loop of 4 clients POSTing /run?counts=true ------
  def server(): Unit = {
    val configs = plan.arrOf("configs").map(_.str("config").get)
    val stream = plan.arrOf("requests").map(_.asInt)
    val srv = Server.start(spark, 0)
    val url = new java.net.URI(
      s"http://127.0.0.1:${srv.getAddress.getPort}/run?counts=true").toURL
    def post(body: String): (Int, String) = {
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes("UTF-8"))
      c.getOutputStream.close()
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val text = new String(in.readAllBytes(), "UTF-8")
      in.close()
      (code, text)
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    def request(seq: Int, phase: String, client: Int, trace: Boolean): Unit = {
      val ci = stream(seq % stream.size)
      val cfg = configs(ci)
      val rid = s"q$seq"
      val t = now
      val (code, body) =
        if (!trace) post(cfg)
        else span("harness", "request", rid) {
          span("config", "ConfigLoader.resolve", rid)(ConfigLoader.resolve(cfg))
          span("pipeline", "Pipeline.build", rid)(Pipeline.build(spark, cfg))
          span("server", "POST /run", rid)(post(cfg))
        }
      results.add(Map("seq" -> seq, "config" -> ci, "phase" -> phase,
        "client" -> client, "start" -> t, "end" -> now, "code" -> code,
        "body" -> body, "traced" -> trace))
    }
    // closed loop: each client sends its next request when the last one
    // completes; stop issuing once `secs` passed and `min` were issued
    def loop(clients: Int, secs: Double, min: Int, first: Int, phase: String,
        trace: Int => Boolean): Int = {
      val next = new java.util.concurrent.atomic.AtomicInteger(first)
      val t0 = now
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var go = true
          while (go) {
            val seq = next.getAndIncrement()
            if ((now - t0) >= secs * 1000 && seq - first >= min) go = false
            else request(seq, phase, c, trace(seq))
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      out(s"${phase}_wall_ms") = now - t0
      next.get()
    }
    try {
      request(0, "cold", 0, trace = false)
      setupDone()
      // one untimed pass over every template: a long-running server is
      // measured warm, its cold start is setup_s
      val warm = plan.int("warmup_requests").get
      (1 to warm).foreach(i => request(i, "warmup", 0, trace = false))
      if (!traced) loop(4, seconds, 20, warm + 1, "loaded", _ => false)
      else {
        // single client, alternating traced and untraced requests, then
        // a short loaded phase for the queueing split
        Trace.on = true
        val n = loop(1, seconds * 0.6, 20, warm + 1, "single", _ % 2 == 1)
        Trace.on = false
        loop(4, seconds * 0.4, 20, n, "loaded", _ => false)
      }
    } finally {
      out("requests") = results.asScala.toSeq.sortBy(_("seq").asInstanceOf[Int])
      srv.stop(0)
    }
  }

  // ---- stream: an open loop staging one events file per interval --------
  def stream(): Unit = {
    val files = plan.arrOf("files").map(f => (Paths.get(f.str("path").get), f.long("rows").get))
    val src = Paths.get(plan.str("source_dir").get)
    val nWarm = plan.int("warmup_files").get
    val nOpen = plan.int("open_loop_files").get
    val interval = plan.dbl("interval_ms").get
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val staged = mutable.ArrayBuffer[Map[String, Any]]()
    var rowsStaged = 0L
    def stage(i: Int, sched: Double): Unit = {
      val (p, rows) = files(i)
      val t = now
      span("loadgen", "stage", s"f$i") {
        Files.move(p, src.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      rowsStaged += rows
      staged += Map("file" -> i, "rows" -> rows, "cum_rows" -> rowsStaged,
        "sched" -> sched, "staged" -> t)
    }
    def awaitCovered(rows: Long, timeoutMs: Double): Boolean = {
      val deadline = now + timeoutMs
      while (!progress.covered(rows, 2) && now < deadline) Thread.sleep(5)
      progress.covered(rows, 2)
    }
    try {
      // the file source infers its schema from the files present at
      // start, so the warm-up files go in first
      for (i <- 0 until nWarm) stage(i, now)
      val cfg = plan.str("config").get
      Trace.on = traced
      span("config", "ConfigLoader.resolve", "setup")(ConfigLoader.resolve(cfg))
      span("pipeline", "Pipeline.execute", "setup")(Pipeline.execute(spark, cfg))
      Trace.on = false
      if (!awaitCovered(rowsStaged, 120000))
        failures += "warm-up files not consumed"
      setupDone()
      // open loop: file k is due at t0 + k·interval whether or not the
      // queries kept up. A traced run traces only its second half, so
      // the two halves give the tracing overhead.
      val t0 = now + interval
      def openLoop(ks: Range): Unit = ks.foreach { k =>
        val due = t0 + k * interval
        val wait = due - now
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        stage(nWarm + k, due)
      }
      val half = if (traced) nOpen / 2 else nOpen
      openLoop(0 until half)
      Trace.on = traced
      span("harness", "stream.run", "stream") {
        openLoop(half until nOpen)
        if (!awaitCovered(rowsStaged, 120000))
          failures += "open-loop files not consumed within 120 s"
        // backlog rounds: each waits until no query is mid-batch, stages
        // its files at once and is drained before the next starts
        val rounds = plan.int("backlog_rounds").get
        val backlog = (nWarm + nOpen until files.size).grouped(
          math.ceil((files.size - nWarm - nOpen).toDouble / rounds).toInt).toSeq
        out("backlog") = backlog.zipWithIndex.map { case (idx, r) =>
          val idle = now + 30000
          while (StreamRunner.activeQueries.exists(_.status.isTriggerActive) && now < idle)
            Thread.sleep(5)
          val tb = now
          span("streaming", "StreamRunner.drainAll", s"backlog$r") {
            idx.foreach(i => stage(i, tb))
            StreamRunner.drainAll()
          }
          if (!awaitCovered(rowsStaged, 120000))
            failures += s"backlog round $r not consumed within 120 s"
          Map("start" -> tb, "rows" -> idx.map(i => files(i)._2).sum, "cum_rows" -> rowsStaged)
        }
      }
      Trace.on = false
      // the sentinel advances every watermark: all windows close and
      // unmatched clicks flush, so the outputs can be checked
      val sent = Paths.get(plan.str("sentinel").get)
      Files.move(sent, src.resolve(sent.getFileName), StandardCopyOption.ATOMIC_MOVE)
      StreamRunner.drainUntilWatermark(
        java.time.Instant.parse(plan.str("watermark_wait").get), 120000L)
    } finally {
      StreamRunner.stopAll()
      out("staged") = staged.toSeq
      out("progress") = progress.progress.asScala.toSeq
      spark.streams.removeListener(progress)
    }
  }
}
