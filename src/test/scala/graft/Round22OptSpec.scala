package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r22 optimization-round internals: the streaming
  * near-dedup paths keep their state stores on the session's shuffle-
  * partition count, which must change ONLY the physical shape — the
  * drained candidate multiset is the same at any width — and pipeline
  * construction compiles operator caches adaptively. */
class Round22OptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stage(dir: String, file: String,
      rows: Seq[(Long, Long, String)]): Unit = {
    val tmp = s"$dir/tmp-$file"
    rows.toDF("doc_id", "secs", "text")
      .select($"doc_id", timestamp_seconds($"secs").as("ts"), $"text")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val inDir = new java.io.File(s"$dir/in")
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(inDir, s"$file.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private val docs = Seq(
    (1L, 100L, "the quick brown fox jumps over the lazy dog again"),
    (2L, 200L, "the quick brown fox jumps over the lazy dog again!"),
    (3L, 300L, "an entirely different document about spark state"),
    (4L, 400L, "the quick brown fox jumps over the lazy dog again"))

  private def runNgram(): Seq[(Long, Long)] = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r22opt").toString
    stage(dir, "b1", docs.take(2))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: d
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [d]
      |    strategy: {timestampField: ts, allowedLateness: 36000}
      |    parameters: {method: ngram, field: text, idField: doc_id,
      |      ngramSize: 5, threshold: 0.5, hashAlgo: md5}
      |sinks:
      |  - name: r22c
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    stage(dir, "b2", docs.drop(2))
    StreamRunner.drainAll()
    StreamRunner.stopAll()
    spark.sql("SELECT doc_id, __dup_of FROM r22c")
      .as[(String, String)].collect().toSeq
      .map(p => (p._1.toLong, p._2.toLong)).distinct.sorted
  }

  test("the session shuffle-partition count changes shape, not values") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val narrow = graft.ops.ConfScope(spark, key -> "2")(runNgram())
    assert(narrow.nonEmpty, "fixture must produce candidates")
    val plain = runNgram()
    assert(narrow == plain,
      s"the state width must not change the candidate set: $narrow vs $plain")
    assert(spark.conf.get(key) == prior)
  }

  test("pipeline construction compiles operator caches adaptively " +
      "and restores the session conf") {
    val key =
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prior = spark.conf.get(key)
    assert(prior == "false", "this pin assumes the Spark default")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r22cache").toString
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/docs")
    Seq((1L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/bench")
    // decontaminate persists its benchmark gram set and counts it
    // DURING construction — with the construction-scoped conf the
    // cached plan is compiled with free output partitioning, so the
    // tiny distinct materializes AQE-coalesced instead of at the
    // session shuffle-partition count (the q132/q126/q140 mechanism)
    val partsKey = "spark.sql.shuffle.partitions"
    val partsPrior = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "32")
    try {
      val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
      Pipeline.build(spark, s"""
        |sources:
        |  - name: docs
        |    module: storage
        |    parameters: {path: $dir/docs}
        |  - name: bench
        |    module: storage
        |    parameters: {path: $dir/bench}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [docs, bench]
        |    parameters: {method: decontaminate, action: flag,
        |      field: text, idField: doc_id, ngramSize: 3}
        |""".stripMargin)
      assert(spark.conf.get(key) == prior,
        "the construction-scoped conf must restore afterwards")
      val cached = spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => rddsBefore.contains(id) }
      assert(cached.nonEmpty,
        "decontaminate must have materialized its persisted gram set")
      val parts = cached.values.map(_.getNumPartitions)
      assert(parts.forall(_ < 32),
        s"cached frames must coalesce below the session partition " +
          s"count, got $parts")
    } finally {
      spark.conf.set(partsKey, partsPrior)
      spark.catalog.clearCache()
    }
  }
}
