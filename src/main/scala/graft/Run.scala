package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** CLI entry point — the counterpart of the reference's
  * `MPipeline.main` (`MPipeline.java:49-77`): load a YAML/JSON config,
  * build the DataFrame DAG, execute sinks, drain any streaming
  * queries.
  *
  *   spark-submit --class graft.Run pipelinespark.jar config.yaml \
  *     [--args k=v ...] [--context ctx] [--drain]
  *
  * `--drain`: process all available streaming data then stop (the
  * batch-catch-up / test mode); without it, streaming queries run
  * until termination. `--context` selects tagged modules, the
  * reference's per-environment overlay (`MPipelineOptions.context`).
  */
object Run {
  /** The confs every entry point's session starts from. */
  private val baseConfs = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // lenient reference semantics (Spark 4 defaults ANSI on)
    "spark.sql.ansi.enabled" -> "false",
    // only affects genuinely-nanos parquet columns (surfaced as int64,
    // which Strategy.toTimestamp converts by magnitude); harmless for
    // micros/NTZ files
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  /** The confs a `graft.Run` or `graft.Server` session is built with,
    * given the submitter's conf. A LOCAL run the submitter did not size
    * gets one shuffle partition per core: the 200-partition default
    * drowns local runs in tiny tasks, and AQE does not coalesce the
    * streaming queries it plans. A submitted value wins, and cluster
    * submissions keep the Spark default — the driver's core count says
    * nothing about cluster parallelism. */
  def sessionConfs(submitted: org.apache.spark.SparkConf)
      : Seq[(String, String)] =
    if (!submitted.contains("spark.sql.shuffle.partitions") &&
        submitted.get("spark.master", "").startsWith("local"))
      baseConfs :+ ("spark.sql.shuffle.partitions" ->
        Runtime.getRuntime.availableProcessors().toString)
    else baseConfs

  /** The entry points' session: [[sessionConfs]] over the submitted
    * conf, logging at WARN. */
  def session(appName: String): SparkSession =
    open(SparkSession.builder().appName(appName),
      sessionConfs(new org.apache.spark.SparkConf()))

  /** The dev tools' session (Verify, Bench, PlanDump): the base confs
    * on `local[cpus]` with one shuffle partition per core and the UI
    * off, logging at WARN. `cpus` is `SPARK_GRAFT_CPUS` (default 4). */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    open(SparkSession.builder().master(s"local[$cpus]"), baseConfs ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.ui.enabled" -> "false"))
  }

  private def open(builder: SparkSession.Builder,
      confs: Seq[(String, String)]): SparkSession = {
    val spark = confs.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty,
      "usage: graft.Run <config path> [--args k=v] [--context ctx] [--drain]")
    val configPath = argv(0)
    val drain = argv.contains("--drain")
    val args = argv.sliding(2).collect {
      case Array("--args", kv) if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    val context = argv.sliding(2).collectFirst {
      case Array("--context", c) if !c.startsWith("--") => c
    }.orElse(argv.collectFirst {
      case a if a.startsWith("--context=") => a.stripPrefix("--context=")
    })

    val spark = session(s"graft:${Paths.get(configPath).getFileName}")

    val configText = Files.readString(Paths.get(configPath))
    val collections = Pipeline.execute(spark, configText, args, context)
    System.err.println(
      s"[graft] built ${collections.size} collections: " +
        collections.keys.toSeq.sorted.mkString(", "))

    val queries = graft.streaming.StreamRunner.activeQueries
    if (queries.nonEmpty) {
      System.err.println(s"[graft] ${queries.size} streaming queries active")
      if (drain) {
        graft.streaming.StreamRunner.drainAll()
        // let the no-data micro-batch advance the watermark and flush
        // append-mode windows before stopping
        Thread.sleep(2000)
        graft.streaming.StreamRunner.drainAll()
        graft.streaming.StreamRunner.stopAll()
      } else {
        // loop until NO query remains: a single awaitAnyTermination
        // returns when the first (e.g. an availableNow catch-up)
        // query finishes, and spark.stop() below would then kill the
        // still-running continuous queries mid-stream. A failed query
        // breaks out so its exception surfaces at the check below.
        while (spark.streams.active.nonEmpty &&
            graft.streaming.StreamRunner.allQueries
              .forall(q => q.exception.isEmpty)) {
          spark.streams.awaitAnyTermination()
          spark.streams.resetTerminated()
        }
      }
    }
    // surface async failures instead of exiting 0 silently — check ALL
    // started queries: one that died in its first micro-batch is
    // already absent from activeQueries
    graft.streaming.StreamRunner.allQueries
      .flatMap(q => Option(q.exception).flatten).foreach { e =>
        System.err.println(s"[graft] streaming query failed: ${e.getMessage}")
        sys.exit(1)
      }
    spark.stop()
  }
}
