package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.internal.SQLConf

/** `cloneSession()` is `private[sql]` but bytecode-public in the
  * bundled Spark: a clone shares the SparkContext, cache manager and
  * catalog with its parent and copies the conf, temp views, functions
  * and listeners, so whatever a run sets on it stays on it. */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

  /** A clone of `spark` for one server request whose jobs carry no
    * per-session artifact state. Spark keys its codegen cache on
    * (context class loader, code); an artifact-isolated clone sends
    * its own session UUID with every job, so the executors build a
    * class loader per clone and recompile every generated class. A
    * clone takes its artifact state from the session it is cloned
    * FROM, so isolation is turned off on a private intermediate clone
    * and the request gets a clone of that: it sees the server's live
    * conf, temp views and functions, and the server's own session is
    * never written. Artifacts added to the server's session with
    * `addArtifact` do not reach request tasks; jars given at submit
    * do. */
  def requestSession(spark: SparkSession): SparkSession = {
    val mid = spark.asInstanceOf[ClassicSession].cloneSession()
    mid.sessionState.conf.setConf(
      SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED, false)
    mid.cloneSession()
  }

  /** `df`'s row count in one job. `Dataset.count()` plans a count
    * aggregate whose exchange AQE runs as a job of its own; this runs
    * `df.select()`'s plan and counts its rows, inside a SQL execution
    * named `count`, so listeners and observed metrics see a finished
    * action as they do for `df.count()`. */
  def count(df: DataFrame): Long = {
    val qe = df.select().queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(
      qe.executedPlan.execute().count())
  }

  /** `df` with its file-stream sources created on `sess`. A file
    * stream lists each micro-batch's new files through the session
    * that created the source, at every batch — not through the
    * query's session, which Spark clones at `start()`. The frame
    * itself stays on its own session, so its query registers there. */
  def withSourcesOn(df: DataFrame, sess: SparkSession): DataFrame =
    ClassicDataset.ofRows(df.sparkSession.asInstanceOf[ClassicSession],
      df.queryExecution.analyzed.transform {
        case r: StreamingRelation =>
          r.copy(dataSource = r.dataSource.copy(sparkSession = sess))
      })

  /** The query of a finished SQL action that succeeded — what the
    * session's QueryExecutionListeners would get, read off the
    * context's listener bus instead of a listener bus per session. */
  def succeededQuery(e: SparkListenerSQLExecutionEnd)
      : Option[QueryExecution] =
    if (e.executionName.isDefined && e.executionFailure.isEmpty)
      Option(e.qe)
    else None
}
