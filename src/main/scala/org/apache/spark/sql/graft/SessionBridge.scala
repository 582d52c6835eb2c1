package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** `cloneSession()` is `private[sql]` but bytecode-public in the
  * bundled Spark: a clone shares the SparkContext, cache manager and
  * catalog with its parent and copies the conf, temp views, functions
  * and listeners, so whatever a run sets on it stays on it. */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()

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
}
