package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** `cloneSession()` is `private[sql]` but bytecode-public in the
  * bundled Spark: a clone shares the SparkContext, cache manager and
  * catalog with its parent and copies the conf, temp views, functions
  * and listeners, so whatever a run sets on it stays on it. */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[ClassicSession].cloneSession()
}
