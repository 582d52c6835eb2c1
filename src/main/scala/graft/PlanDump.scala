package graft
import java.nio.file.{Files, Paths}

/** Dev tool (r21 optimization round): dump `.explain("formatted")` for
  * declared queries to files, for the plans/r21/<q>_{before,after}.txt
  * evidence the optimization ledger cites.
  *
  * usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  *
  * Streaming gates execute their pipeline when built (drain + stop
  * inside the query function) and return a batch read of the sink —
  * for those the dumped plan is the final read, so this tool is only
  * cited for BATCH gates, where the returned frame's plan is the
  * computation itself.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...")
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val only = names.split(",").toSet
    val spark = Run.localSession()
    new java.io.File(outDir).mkdirs()
    (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (n, _) => only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
        try graft.streaming.StreamRunner.stopAll()
        catch { case _: Throwable => () }
      }
    spark.stop()
    SparkEntry.closeFixtures()
    System.exit(0)
  }
}
