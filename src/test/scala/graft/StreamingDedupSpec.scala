package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming exact dedup: first-seen-wins within the watermark
  * horizon (`dropDuplicatesWithinWatermark` keyed on the text
  * fingerprint), state bounded by the event-time horizon. */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def stage(dir: String, file: String,
      rows: Seq[(Long, Long, String)]): Unit = {
    val tmp = s"$dir/tmp-$file"
    rows.toDF("id", "secs", "text")
      .select($"id", timestamp_seconds($"secs").as("ts"), $"text")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val inDir = new java.io.File(s"$dir/in")
    inDir.mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(inDir, s"$file.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("streaming exact dedup keeps first occurrence, drops " +
      "within-horizon duplicates, keeps distinct texts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup")
      .toString
    // batch 1: X at t=100 and Y at t=200
    stage(dir, "b1", Seq((1L, 100L, "text X"), (2L, 200L, "text Y")))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: exact, field: text}
      |sinks:
      |  - name: sdd
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    def ids(): Seq[Long] =
      spark.sql("SELECT id FROM sdd").as[Long].collect().sorted.toSeq
    assert(ids() == Seq(1L, 2L))
    // batch 2: X again at t=500 (within the 1h horizon of the first
    // X) — dropped; Z at t=600 — new, kept
    stage(dir, "b2", Seq((3L, 500L, "text X"), (4L, 600L, "text Z")))
    StreamRunner.drainAll()
    assert(ids() == Seq(1L, 2L, 4L))
    // batch 3: another within-horizon X duplicate plus a new text —
    // dedup state still holds X (watermark = 600 - 3600 < 100)
    stage(dir, "b3", Seq((5L, 700L, "text X"), (6L, 800L, "text W")))
    StreamRunner.drainAll()
    assert(ids() == Seq(1L, 2L, 4L, 6L))
    StreamRunner.stopAll()
  }

  test("streaming exact dedup without a timestampField fails " +
      "actionably; non-exact methods still reject streams") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup2")
      .toString
    stage(dir, "b1", Seq((1L, 100L, "x")))
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev]
        |    parameters: {method: exact, field: text}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("timestampField"))
    // minhash/simhash/ngram/winnow stream with a timestampField via
    // the bucket-owner near-dedup paths; genuinely corpus-wide
    // methods (lines: corpus-wide line frequencies) still reject
    // streams with the alternatives named
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev]
        |    strategy: {timestampField: ts}
        |    parameters: {method: lines, field: text}
        |""".stripMargin)
    }
    assert(e2.getMessage.contains("bounded"))
    // streaming minhash WITHOUT a timestampField: actionable failure
    // (unbounded bucket state), not an opaque Spark error
    val e3 = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev]
        |    parameters: {method: minhash, field: text}
        |""".stripMargin)
    }
    assert(e3.getMessage.contains("timestampField"))
  }

  test("streaming minhash LSH flags within-horizon near-dups per " +
      "band against the first-seen owner") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slsh")
      .toString
    val textA = "the quick brown fox jumps over the lazy dog and " +
      "then runs far away into the quiet green forest tonight"
    val textB = "completely different content about distributed " +
      "stream processing engines and their state management story"
    // batch 1: A's owner (id 1) + an unrelated doc
    stage(dir, "b1", Seq((1L, 100L, textA), (2L, 200L, textB)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: minhash, field: text, idField: id}
      |sinks:
      |  - name: slsh
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    def pairs(): Seq[(String, String)] =
      spark.sql("SELECT DISTINCT id, __dup_of FROM slsh")
        .as[(String, String)].collect().sorted.toSeq
    // owners emit nothing
    assert(pairs().isEmpty)
    // batch 2: id 3 duplicates A within the horizon → per-band
    // candidate rows against owner 1 (identical text collides in
    // every band); id 4 is novel → nothing
    stage(dir, "b2", Seq((3L, 500L, textA),
      (4L, 600L, "an entirely unrelated recipe for sourdough bread " +
        "with rye flour slow fermentation and a cast iron bake")))
    StreamRunner.drainAll()
    assert(pairs() == Seq(("3", "1")))
    val bandCount = spark.sql(
      "SELECT count(*) FROM slsh WHERE id = '3'").as[Long].head()
    assert(bandCount == 8L) // all 8 default bands collide
    StreamRunner.stopAll()
  }

  test("streaming embedding dedup verifies cosine against the " +
      "bucket owner; sub-threshold same-bucket arrivals pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sedup")
      .toString
    def stageEmb(file: String,
        rows: Seq[(Long, Long, Seq[Float])]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("id", "secs", "embedding")
        .select($"id", timestamp_seconds($"secs").as("ts"), $"embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    stageEmb("b1", Seq((1L, 100L, Seq(1f, 0f, 0f, 0f))))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: embedding, field: embedding, idField: id,
      |                 dim: 4, planes: 4, threshold: 0.95}
      |sinks:
      |  - name: sed
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    // id 2: same bucket (near-identical direction), cosine ≈ 0.994 →
    // candidate vs owner 1. id 3: same bucket as 1 (tiny positive
    // first component dominates the same hyperplane signs is not
    // guaranteed — use a clearly co-directional vector) but cosine
    // below 0.95 → silent pass
    stageEmb("b2", Seq(
      (2L, 500L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, 600L, Seq(0.6f, 0.8f, 0f, 0f))))
    StreamRunner.drainAll()
    val rows = spark.sql("SELECT id, __dup_of, __cosine FROM sed")
      .as[(String, String, Double)].collect().sorted.toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq(("2", "1")))
    assert(rows.head._3 > 0.95)
    StreamRunner.stopAll()
  }

  test("streaming decontaminate flags per row against the static " +
      "benchmark set; remove drops matches; streaming bench rejects") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdec")
      .toString
    // benchmark = one doc; corpus rows 1 (shares its text → hit) and
    // 2 (novel). allowedLateness/watermark NOT needed: per-row flag
    stage(dir, "b1", Seq(
      (1L, 100L, "alpha beta gamma delta epsilon zeta"),
      (2L, 200L, "totally unrelated words in this one here")))
    val benchDir = s"$dir/bench"
    Seq((9L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").write.parquet(benchDir)
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: docs
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |  - name: bench
      |    module: storage
      |    parameters: {path: $benchDir}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [docs, bench]
      |    parameters: {method: decontaminate, field: text, idField: id, ngramSize: 3}
      |sinks:
      |  - name: sdec
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    // second micro-batch proves each batch flags independently
    stage(dir, "b2", Seq(
      (3L, 300L, "prefix words then alpha beta gamma suffix")))
    StreamRunner.drainAll()
    val got = spark.sql("SELECT id, __contaminated FROM sdec")
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true))
    StreamRunner.stopAll()
    // a STREAMING benchmark side fails actionably
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: docs
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [docs, docs]
        |    parameters: {method: decontaminate, field: text, idField: id, benchmarkInput: docs}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("bounded"))
  }

  test("streaming ngram dedup verifies exact char-gram Jaccard " +
      "against the owner's text; sub-threshold collisions pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sngram")
      .toString
    val textA = "the quick brown fox jumps over the lazy dog and " +
      "then wanders off into the quiet green forest before dusk"
    // one word swapped: char-5-gram Jaccard well inside (0, 1),
    // minhash bands still collide (deterministic fixed-seed hashes)
    val textA2 = textA.replace("wanders", "strolls")
    stage(dir, "b1", Seq((1L, 100L, textA)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: ngram, field: text, idField: id, threshold: 0.5}
      |sinks:
      |  - name: sng
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    stage(dir, "b2", Seq((2L, 500L, textA), (3L, 600L, textA2)))
    StreamRunner.drainAll()
    val rows = spark.sql(
      "SELECT id, __dup_of, max(__jaccard) FROM sng GROUP BY 1, 2")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical text: every band collides, jaccard exactly 1.0
    assert(rows.get(("2", "1")).contains(1.0), rows)
    // near-identical: verified with a real in-(0.5, 1) jaccard
    val j3 = rows.get(("3", "1"))
    assert(j3.exists(j => j > 0.5 && j < 1.0), rows)
    StreamRunner.stopAll()
  }

  test("a late-but-in-horizon member must NOT rewind the bucket " +
      "horizon below an earlier member's event time") {
    // regression: the bucket timeout once seeded from the OWNER's
    // arrival time, so a later micro-batch whose members were all
    // older than the bucket's newest member rewound the timeout and
    // expired the bucket inside its documented horizon
    val dir = java.nio.file.Files.createTempDirectory("graft-slsh3")
      .toString
    val textA = "the same boilerplate paragraph that keeps arriving " +
      "with out of order event times across several micro batches"
    // b1: owner 1 (t=100) + member 2 (t=4000) → horizon must be 4000
    stage(dir, "b1", Seq((1L, 100L, textA), (2L, 4000L, textA)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 600}
      |    parameters: {method: minhash, field: text, idField: id}
      |sinks:
      |  - name: slsh3
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    // b2: member 3 at t=3500 — OLDER than member 2 but inside the
    // horizon (watermark is 3400); a rewound timeout would now be
    // 3500 instead of 4000
    stage(dir, "b2", Seq((3L, 3500L, textA)))
    StreamRunner.drainAll()
    // two unrelated batches push the watermark to 3700 — past the
    // rewound value, still below the true horizon
    stage(dir, "b3", Seq((4L, 4200L, "completely different words " +
      "about gardening tools and the weather this afternoon")))
    StreamRunner.drainAll()
    stage(dir, "b4", Seq((5L, 4300L, "another unrelated piece on " +
      "railway timetables and commuter platform announcements")))
    StreamRunner.drainAll()
    // b5: duplicate at t=4100 (inside the horizon of member 2's
    // t=4000): the bucket must still be alive → candidate vs owner 1
    stage(dir, "b5", Seq((6L, 4100L, textA)))
    StreamRunner.drainAll()
    val pairs = spark.sql("SELECT DISTINCT id, __dup_of FROM slsh3")
      .as[(String, String)].collect().sorted.toSeq
    assert(pairs == Seq(("2", "1"), ("3", "1"), ("6", "1")), pairs)
    StreamRunner.stopAll()
    // referenceInput would silently self-dedup on a stream — rejected
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |  - name: ref
        |    module: storage
        |    parameters: {path: $dir/in/b1.parquet}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev, ref]
        |    strategy: {timestampField: ts, allowedLateness: 600}
        |    parameters: {method: minhash, field: text, idField: id, referenceInput: ref}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("referenceInput does not combine"),
      e.getMessage)
  }

  test("streaming LSH bucket state expires with the watermark; a " +
      "post-horizon re-occurrence becomes the new owner") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slsh2")
      .toString
    val textA = "some repeated boilerplate paragraph that the crawl " +
      "keeps seeing every few days in slightly different places"
    stage(dir, "b1", Seq((1L, 100L, textA)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 60}
      |    parameters: {method: simhash, field: text, idField: id}
      |sinks:
      |  - name: slsh2
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    // advance the watermark far past id 1's horizon (t=10000 − 60s
    // ≫ 100s) with an unrelated doc; the owner state for A's buckets
    // times out at this batch's close
    stage(dir, "b2", Seq((2L, 10000L, "watermark advancing filler " +
      "document with enough words to band normally")))
    StreamRunner.drainAll()
    // batch 3: A re-occurs past the horizon → id 3 is the NEW owner
    // (no candidate rows); id 4 duplicates it within the horizon →
    // candidates point at 3, not at the expired 1
    stage(dir, "b3", Seq((3L, 10100L, textA), (4L, 10150L, textA)))
    StreamRunner.drainAll()
    val pairs = spark.sql("SELECT DISTINCT id, __dup_of FROM slsh2")
      .as[(String, String)].collect().sorted.toSeq
    assert(pairs == Seq(("4", "3")))
    StreamRunner.stopAll()
  }

  test("dedup verdicts reduces drained candidate rows to per-doc " +
      "min __dup_of; transitive closes chains") {
    val dir = java.nio.file.Files.createTempDirectory("graft-verd")
      .toString
    // drained-candidate shape: per-band rows, with a cross-batch
    // re-emission (3,0,1 twice) the reduce must absorb
    Seq((3L, 0, 2L), (3L, 1, 1L), (3L, 0, 1L), (3L, 0, 1L),
      (5L, 2, 4L))
      .toDF("id", "__band_idx", "__dup_of")
      .write.mode("overwrite").parquet(s"$dir/cand")
    val v = Pipeline.build(spark, s"""
      |sources:
      |  - name: cand
      |    module: storage
      |    parameters: {path: $dir/cand}
      |transforms:
      |  - name: vd
      |    module: dedup
      |    inputs: [cand]
      |    parameters: {method: verdicts, idField: id}
      |""".stripMargin)("vd")
    assert(v.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 1L), (5L, 4L)))
    // transitive: 5's owner 4 is itself 3's dup chain? build a chain
    // 2→1, 3→2 and close it to the component minimum
    Seq((2L, 0, 1L), (3L, 0, 2L))
      .toDF("id", "__band_idx", "__dup_of")
      .write.mode("overwrite").parquet(s"$dir/chain")
    val t = Pipeline.build(spark, s"""
      |sources:
      |  - name: cand
      |    module: storage
      |    parameters: {path: $dir/chain}
      |transforms:
      |  - name: vd
      |    module: dedup
      |    inputs: [cand]
      |    parameters: {method: verdicts, idField: id, transitive: true}
      |""".stripMargin)("vd")
    assert(t.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((2L, 1L), (3L, 1L)))
    // no-corpus verdicts over STREAM-surfaced STRING ids: idType
    // restores the numeric order ("10" < "9" lexically would elect
    // owner 11 over 9); without idType the un-cast min is the
    // documented batch semantic for genuinely-string ids
    Seq(("10", 0, "9"), ("10", 1, "11"))
      .toDF("id", "__band_idx", "__dup_of")
      .write.mode("overwrite").parquet(s"$dir/scand")
    val n = Pipeline.build(spark, s"""
      |sources:
      |  - name: cand
      |    module: storage
      |    parameters: {path: $dir/scand}
      |transforms:
      |  - name: vd
      |    module: dedup
      |    inputs: [cand]
      |    parameters: {method: verdicts, idField: id, idType: int64}
      |""".stripMargin)("vd")
    assert(n.as[(Long, Long)].collect().toSeq == Seq((10L, 9L)))
    // an unparseable id under idType raises with the value named
    // (a lenient cast would null it out and silently drop the
    // verdict)
    Seq(("x7", 0, "9")).toDF("id", "__band_idx", "__dup_of")
      .write.mode("overwrite").parquet(s"$dir/badcand")
    val bad = Pipeline.build(spark, s"""
      |sources:
      |  - name: cand
      |    module: storage
      |    parameters: {path: $dir/badcand}
      |transforms:
      |  - name: vd
      |    module: dedup
      |    inputs: [cand]
      |    parameters: {method: verdicts, idField: id, idType: int64}
      |""".stripMargin)("vd")
    val e2 = intercept[Exception](bad.collect())
    assert(e2.getMessage.contains("does not parse") ||
      Option(e2.getCause).exists(_.getMessage.contains("does not parse")),
      e2.getMessage)
  }

  test("verdicts property: the module reduce equals a reference fold " +
      "over random candidate multisets, plain and transitive") {
    val rnd = new scala.util.Random(42)
    val dir = java.nio.file.Files.createTempDirectory("graft-verdp")
      .toString
    for (trial <- 1 to 6) {
      val pairs = (1 to rnd.nextInt(60) + 8).map { _ =>
        val a = rnd.nextInt(28) + 2L
        val b = rnd.nextInt(30) + 1L
        (a, rnd.nextInt(8), if (b == a) b + 1 else b)
      }
      pairs.toDF("id", "__band_idx", "__dup_of")
        .write.mode("overwrite").parquet(s"$dir/c$trial")
      def run(extra: String) = Pipeline.build(spark, s"""
        |sources:
        |  - name: cand
        |    module: storage
        |    parameters: {path: $dir/c$trial}
        |transforms:
        |  - name: vd
        |    module: dedup
        |    inputs: [cand]
        |    parameters: {method: verdicts, idField: id$extra}
        |""".stripMargin)("vd")
        .as[(Long, Long)].collect().sorted.toSeq
      // plain: min __dup_of per id (multiset duplicates collapse)
      val ref = pairs.groupBy(_._1).view
        .mapValues(_.map(_._3).min).toMap.toSeq.sorted
      assert(run("") == ref, s"trial $trial plain: $pairs")
      // transitive: union-find closure to the component minimum,
      // emitted for every node whose component min is below it
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val px = parent.getOrElse(x, x)
        if (px == x) x else { val r = find(px); parent(x) = r; r }
      }
      pairs.foreach { case (a, _, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(t => Seq(t._1, t._3)).distinct
      val refT = nodes.map(x => x -> find(x))
        .filter { case (x, r) => r < x }.sorted
      assert(run(", transitive: true") == refT,
        s"trial $trial transitive: $pairs")
    }
  }

  test("dedup verdicts with corpusInput restores the corpus id type, " +
      "left-joins verdicts, and keep: canonical anti-joins") {
    val dir = java.nio.file.Files.createTempDirectory("graft-verdc")
      .toString
    // STRING ids like a drained stream surfaces them — "10" < "9"
    // lexically, so an un-cast min would elect the wrong owner
    Seq(("10", 0, "9"), ("10", 1, "11"))
      .toDF("id", "__band_idx", "__dup_of")
      .write.mode("overwrite").parquet(s"$dir/cand")
    Seq((9L, "doc nine"), (10L, "doc ten"), (11L, "doc eleven"))
      .toDF("id", "text")
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val cfg = (keep: String) => s"""
      |sources:
      |  - name: cand
      |    module: storage
      |    parameters: {path: $dir/cand}
      |  - name: corpus
      |    module: storage
      |    parameters: {path: $dir/corpus}
      |transforms:
      |  - name: vd
      |    module: dedup
      |    inputs: [cand, corpus]
      |    parameters: {method: verdicts, idField: id$keep}
      |""".stripMargin
    val joined = Pipeline.build(spark, cfg(""))("vd")
    val rows = joined.select($"id", $"__dup_of")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    // numeric min: 9 < 11 (string min would pick "11")
    assert(rows == Seq((9L, None), (10L, Some(9L)), (11L, None)))
    val kept = Pipeline.build(spark,
      cfg(", keep: canonical"))("vd")
    assert(kept.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(9L, 11L))
    assert(!kept.columns.contains("__dup_of"))
    // keep without a corpus is meaningless — loud
    val e = intercept[IllegalArgumentException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: cand
        |    module: storage
        |    parameters: {path: $dir/cand}
        |transforms:
        |  - name: vd
        |    module: dedup
        |    inputs: [cand]
        |    parameters: {method: verdicts, idField: id, keep: canonical}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("corpusInput"), e.getMessage)
  }

  test("null event-time rows are skipped (not NPE-fatal) and a doc " +
      "duplicated within one micro-batch emits once per band") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snull")
      .toString
    val textA = "the quick brown fox jumps over the lazy dog and " +
      "then runs far away into the quiet green forest tonight"
    def stageOpt(file: String,
        rows: Seq[(Long, Option[Long], String)]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("id", "secs", "text")
        .select($"id", timestamp_seconds($"secs").as("ts"), $"text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    stageOpt("b1", Seq((1L, Some(100L), textA)))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: minhash, field: text, idField: id}
      |sinks:
      |  - name: snull
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    // id 2 has a NULL event time (withWatermark does not drop it):
    // skipped, never a candidate, and — the regression — the query
    // must survive the batch. id 3 arrives TWICE in the same batch:
    // exactly one candidate row per band, not two
    stageOpt("b2", Seq((2L, None, textA),
      (3L, Some(500L), textA), (3L, Some(500L), textA)))
    StreamRunner.drainAll()
    val rows = spark.sql("SELECT id, __dup_of FROM snull")
      .as[(String, String)].collect().toSeq
    assert(rows.distinct.sorted == Seq(("3", "1")), rows)
    assert(rows.size == 8, rows) // 8 bands × once, in-batch dup folded
    StreamRunner.stopAll()
  }

  test("streaming embedding dedup accepts an array<double> column " +
      "like the batch path's implicit coercion") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sdblemb")
      .toString
    def stageEmbD(file: String,
        rows: Seq[(Long, Long, Seq[Double])]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("id", "secs", "embedding")
        .select($"id", timestamp_seconds($"secs").as("ts"), $"embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    stageEmbD("b1", Seq((1L, 100L, Seq(1.0, 0.0, 0.0, 0.0))))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |  - name: dd
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: embedding, field: embedding, idField: id,
      |                 dim: 4, planes: 4, threshold: 0.95}
      |sinks:
      |  - name: sdbl
      |    module: memory
      |    input: dd
      |    parameters: {outputMode: append}
      |""".stripMargin)
    StreamRunner.drainAll()
    stageEmbD("b2", Seq((2L, 500L, Seq(0.9, 0.1, 0.0, 0.0))))
    StreamRunner.drainAll()
    val rows = spark.sql("SELECT id, __dup_of FROM sdbl")
      .as[(String, String)].collect().sorted.toSeq
    assert(rows == Seq(("2", "1")), rows)
    StreamRunner.stopAll()
  }

  test("maxVerifyChars bounds the owner text riding in ngram state: " +
      "clipped verify accepts what the full-text verify rejects") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scap")
      .toString
    // prefix-identical docs whose tails are single-char runs: the
    // runs collapse to ~one distinct 5-gram each, so the FULL-text
    // jaccard sits just below 0.97 while bands still collide; the
    // 200-char clip sees identical text (jaccard 1.0)
    val prefix = "the shared boilerplate opening paragraph that " +
      "both documents repeat verbatim across the whole corpus and " +
      "which dominates their character gram sets almost entirely " +
      "so the minhash bands keep colliding here"
    val tA = prefix + ("x" * 120)
    val tB = prefix + ("y" * 120)
    def run(cap: String, sink: String): Seq[(String, String)] = {
      stage(dir, "b1", Seq((1L, 100L, tA)))
      Pipeline.execute(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev]
        |    strategy: {timestampField: ts, allowedLateness: 3600}
        |    parameters: {method: ngram, field: text, idField: id,
        |                 threshold: 0.97$cap}
        |sinks:
        |  - name: $sink
        |    module: memory
        |    input: dd
        |    parameters: {outputMode: append}
        |""".stripMargin)
      StreamRunner.drainAll()
      stage(dir, "b2", Seq((2L, 500L, tB)))
      StreamRunner.drainAll()
      val out = spark.sql(s"SELECT DISTINCT id, __dup_of FROM $sink")
        .as[(String, String)].collect().sorted.toSeq
      StreamRunner.stopAll()
      // fresh input dir per run: each run re-stages b1/b2
      new java.io.File(s"$dir/in").listFiles().foreach(_.delete())
      out
    }
    // full-text verify: tails diverge → below 0.97, no candidate
    assert(run("", "scap1").isEmpty)
    // clipped to the shared prefix: verifies at 1.0 — the documented
    // precision trade (differences past the cap are invisible)
    assert(run(s", maxVerifyChars: ${prefix.length}", "scap2") ==
      Seq(("2", "1")))
  }

  test("maxVerifyFps bounds the fingerprint set riding in winnow " +
      "state: the capped (prefix) verify accepts what the full-set " +
      "verify rejects") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wcap")
      .toString
    // token-prefix-identical docs with fully divergent tails: winnow
    // fps are positional (windows in document order), so the first
    // few fingerprints of both docs come from prefix-only windows
    // and are IDENTICAL, while the tails contribute enough distinct
    // fingerprints to drag the full-set jaccard far below 0.9
    val prefix = (0 until 40).map(i => s"p$i").mkString(" ")
    val tA = prefix + " " + (0 until 60).map(i => s"a$i").mkString(" ")
    val tB = prefix + " " + (0 until 60).map(i => s"b$i").mkString(" ")
    def run(cap: String, sink: String): Seq[(String, String)] = {
      stage(dir, "b1", Seq((1L, 100L, tA)))
      Pipeline.execute(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: $dir/in, stream: true}
        |transforms:
        |  - name: dd
        |    module: dedup
        |    inputs: [ev]
        |    strategy: {timestampField: ts, allowedLateness: 3600}
        |    parameters: {method: winnow, field: text, idField: id,
        |                 threshold: 0.9$cap}
        |sinks:
        |  - name: $sink
        |    module: memory
        |    input: dd
        |    parameters: {outputMode: append}
        |""".stripMargin)
      StreamRunner.drainAll()
      stage(dir, "b2", Seq((2L, 500L, tB)))
      StreamRunner.drainAll()
      val out = spark.sql(s"SELECT DISTINCT id, __dup_of FROM $sink")
        .as[(String, String)].collect().sorted.toSeq
      StreamRunner.stopAll()
      new java.io.File(s"$dir/in").listFiles().foreach(_.delete())
      out
    }
    // full fingerprint sets: the divergent tails dominate → jaccard
    // far under 0.9, no candidate (prefix buckets DO collide)
    assert(run("", "wcap1").isEmpty)
    // capped to the first 5 fingerprints (prefix-only windows on
    // both sides): jaccard 1.0 — the documented precision trade
    assert(run(", maxVerifyFps: 5", "wcap2") == Seq(("2", "1")))
  }

  /** One 3-batch fixture for the table-driven engine test: id 3 is a
    * near-dup of owner 1 in the same batch; batch 2 brings an exact
    * dup of 1, a near-dup of B, a sub-threshold variant of A and a
    * far-future doc (id 6) that moves the watermark past every
    * batch-1 bucket; in batch 3 A re-occurs past the horizon (id 8
    * owns anew), id 9 arrives twice, C's near-dup meets live owner 6,
    * and null text / null embedding rows never bucket. */
  private val engineFixture: Seq[Seq[(Long, Long, Option[String],
      Option[Seq[Float]])]] = {
    val a = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the quiet green forest tonight"
    val a1 = a.replace("tonight", "today")
    val a2 = "the quick brown fox jumps over a sleeping cat and then " +
      "walks back home through the busy grey city"
    val b = "completely different content about distributed stream " +
      "processing engines and their state management story"
    val b1 = b.replace("story", "history")
    val c = "an entirely unrelated recipe for sourdough bread with rye " +
      "flour slow fermentation and a cast iron bake"
    val c1 = c.replace("cast iron", "clay pot")
    def v(xs: Float*): Option[Seq[Float]] = Some(xs)
    Seq(
      Seq((1L, 100L, Some(a), v(1f, 0f, 0f, 0f)),
        (2L, 200L, Some(b), v(0f, 1f, 0f, 0f)),
        (3L, 150L, Some(a1), v(0.99f, 0.05f, 0f, 0f))),
      Seq((4L, 400L, Some(a), v(1f, 0f, 0f, 0f)),
        (5L, 500L, Some(b1), v(0.05f, 0.99f, 0f, 0f)),
        (6L, 8000L, Some(c), v(0f, 0f, 1f, 0f)),
        (7L, 450L, Some(a2), v(0.7f, 0.7f, 0f, 0f))),
      Seq((8L, 8100L, Some(a), v(1f, 0f, 0f, 0f)),
        (9L, 8200L, Some(a), v(1f, 0f, 0f, 0f)),
        (9L, 8250L, Some(a), v(1f, 0f, 0f, 0f)),
        (10L, 8050L, Some(c1), v(0f, 0.05f, 0.99f, 0f)),
        (11L, 8300L, None, None)))
  }

  /** Drained candidate multisets of the five streaming near-dedup
    * methods under both hash modes over `engineFixture` — golden rows:
    * any difference is a behaviour change of the streaming engine.
    * Rows are the sink's columns joined by ',', sorted; ';' separates
    * rows. */
  private val engineGolden: Map[String, String] = Map(
    "embedding_md5" -> (
      "10,6,0.9987270546400474;3,1,0.9987270546400474;4,1,1.0" +
      ";5,2,0.9987270546400474;9,8,1.0"),
    "embedding_xxhash64" -> (
      "10,6,0.9987270546400474;3,1,0.9987270546400474;4,1,1.0" +
      ";9,8,1.0"),
    "minhash_md5" -> (
      "10,0,6;3,1,1;3,2,1;3,5,1;3,6,1;4,0,1;4,1,1;4,2,1;4,3,1" +
      ";4,4,1;4,5,1;4,6,1;4,7,1;5,0,2;5,3,2;5,4,2;5,5,2;5,7,2" +
      ";9,0,8;9,1,8;9,2,8;9,3,8;9,4,8;9,5,8;9,6,8;9,7,8"),
    "minhash_xxhash64" -> (
      "3,0,1;3,1,1;3,2,1;3,4,1;3,7,1;4,0,1;4,1,1;4,2,1;4,3,1" +
      ";4,4,1;4,5,1;4,6,1;4,7,1;5,0,2;5,4,2;5,5,2;5,7,2;9,0,8" +
      ";9,1,8;9,2,8;9,3,8;9,4,8;9,5,8;9,6,8;9,7,8"),
    "ngram_md5" -> (
      "10,0,6,0.7889908256880734;10,2,6,0.7889908256880734" +
      ";10,3,6,0.7889908256880734;10,5,6,0.7889908256880734" +
      ";10,7,6,0.7889908256880734;3,0,1,0.9175257731958762" +
      ";3,1,1,0.9175257731958762;3,2,1,0.9175257731958762" +
      ";3,3,1,0.9175257731958762;3,7,1,0.9175257731958762" +
      ";4,0,1,1.0;4,1,1,1.0;4,2,1,1.0;4,3,1,1.0;4,4,1,1.0" +
      ";4,5,1,1.0;4,6,1,1.0;4,7,1,1.0;5,0,2,0.9065420560747663" +
      ";5,1,2,0.9065420560747663;5,2,2,0.9065420560747663" +
      ";5,4,2,0.9065420560747663;5,6,2,0.9065420560747663" +
      ";9,0,8,1.0;9,1,8,1.0;9,2,8,1.0;9,3,8,1.0;9,4,8,1.0" +
      ";9,5,8,1.0;9,6,8,1.0;9,7,8,1.0"),
    "ngram_xxhash64" -> (
      "10,1,6,0.7889908256880734;10,4,6,0.7889908256880734" +
      ";10,6,6,0.7889908256880734;3,1,1,0.9175257731958762" +
      ";3,2,1,0.9175257731958762;3,3,1,0.9175257731958762" +
      ";3,4,1,0.9175257731958762;3,6,1,0.9175257731958762" +
      ";3,7,1,0.9175257731958762;4,0,1,1.0;4,1,1,1.0;4,2,1,1.0" +
      ";4,3,1,1.0;4,4,1,1.0;4,5,1,1.0;4,6,1,1.0;4,7,1,1.0" +
      ";5,2,2,0.9065420560747663;5,3,2,0.9065420560747663" +
      ";5,4,2,0.9065420560747663;5,5,2,0.9065420560747663" +
      ";5,6,2,0.9065420560747663;5,7,2,0.9065420560747663" +
      ";9,0,8,1.0;9,1,8,1.0;9,2,8,1.0;9,3,8,1.0;9,4,8,1.0" +
      ";9,5,8,1.0;9,6,8,1.0;9,7,8,1.0"),
    "simhash_md5" -> (
      "3,0,1;4,0,1;4,1,1;4,2,1;4,3,1;9,0,8;9,1,8;9,2,8;9,3,8"),
    "simhash_xxhash64" -> (
      "3,0,1;4,0,1;4,1,1;4,2,1;4,3,1;9,0,8;9,1,8;9,2,8;9,3,8"),
    "winnow_md5" -> (
      "10,0f66b8e2,6,0.6666666666666666" +
      ";10,0faaa47f,6,0.6666666666666666" +
      ";10,40a199ea,6,0.6666666666666666" +
      ";10,84d9e98d,6,0.6666666666666666;3,2e5d58d5,1,1.0" +
      ";3,41c089ec,1,1.0;3,45439b5a,1,1.0;3,45df137c,1,1.0" +
      ";3,753d490a,1,1.0;4,2e5d58d5,1,1.0;4,41c089ec,1,1.0" +
      ";4,45439b5a,1,1.0;4,45df137c,1,1.0;4,753d490a,1,1.0" +
      ";5,1a7a0abd,2,0.6;5,2e76ac27,2,0.6;5,3bd363b4,2,0.6" +
      ";9,2e5d58d5,8,1.0;9,41c089ec,8,1.0;9,45439b5a,8,1.0" +
      ";9,45df137c,8,1.0;9,753d490a,8,1.0"),
    "winnow_xxhash64" -> (
      "10,-1226186625685236279,6,0.75" +
      ";10,-3871237639963564998,6,0.75" +
      ";10,-4399478097178098477,6,0.75" +
      ";10,-4420823836423628070,6,0.75" +
      ";10,-5922512754438595096,6,0.75" +
      ";10,4475796305680597077,6,0.75" +
      ";3,-1769905632180133675,1,1.0;3,-4729821196639028678,1,1.0" +
      ";3,-6979029026126134888,1,1.0;3,-8228492273464069425,1,1.0" +
      ";3,-9196216685996982851,1,1.0;3,34278719750526277,1,1.0" +
      ";3,3873391075102283444,1,1.0;4,-1769905632180133675,1,1.0" +
      ";4,-4729821196639028678,1,1.0;4,-6979029026126134888,1,1.0" +
      ";4,-8228492273464069425,1,1.0;4,-9196216685996982851,1,1.0" +
      ";4,34278719750526277,1,1.0;4,3873391075102283444,1,1.0" +
      ";5,-5282835671252027420,2,1.0;5,-6422440620193771762,2,1.0" +
      ";5,-8734186056861840037,2,1.0;9,-1769905632180133675,8,1.0" +
      ";9,-4729821196639028678,8,1.0;9,-6979029026126134888,8,1.0" +
      ";9,-8228492273464069425,8,1.0;9,-9196216685996982851,8,1.0" +
      ";9,34278719750526277,8,1.0;9,3873391075102283444,8,1.0"))

  test("one bucket-owner engine: every streaming near-dedup method " +
      "under both hash modes drains its pinned candidate multiset") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sengine")
      .toString
    def stageAll(file: String, rows: Seq[(Long, Long, Option[String],
        Option[Seq[Float]])]): Unit = {
      val tmp = s"$dir/tmp-$file"
      rows.toDF("id", "secs", "text", "embedding")
        .select($"id", timestamp_seconds($"secs").as("ts"), $"text",
          $"embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
      java.nio.file.Files.move(part.toPath,
        new java.io.File(inDir, s"$file.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val methods = Seq(
      "minhash" -> "field: text",
      "simhash" -> "field: text",
      "ngram" -> "field: text, threshold: 0.7",
      "winnow" -> "field: text, ngramSize: 3, window: 4",
      "embedding" -> "field: embedding, dim: 4, planes: 2, threshold: 0.9")
    val cases = for ((m, params) <- methods;
      (algo, algoParam) <- Seq("md5" -> ", hashAlgo: md5",
        "xxhash64" -> "")) yield (s"${m}_$algo", m, params + algoParam)
    stageAll("b1", engineFixture(0))
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: $dir/in, stream: true}
      |transforms:
      |""".stripMargin + cases.map { case (name, m, params) => s"""
      |  - name: dd_$name
      |    module: dedup
      |    inputs: [ev]
      |    strategy: {timestampField: ts, allowedLateness: 3600}
      |    parameters: {method: $m, idField: id, $params}
      |""".stripMargin }.mkString + "sinks:\n" +
      cases.map { case (name, _, _) => s"""
      |  - name: seng_$name
      |    module: memory
      |    input: dd_$name
      |    parameters: {outputMode: append}
      |""".stripMargin }.mkString)
    try {
      StreamRunner.drainAll()
      stageAll("b2", engineFixture(1))
      StreamRunner.drainAll()
      stageAll("b3", engineFixture(2))
      StreamRunner.drainAll()
      cases.foreach { case (name, _, _) =>
        val got = spark.table(s"seng_$name").collect()
          .map(_.toSeq.mkString(",")).sorted.mkString(";")
        assert(got == engineGolden(name), name)
      }
    } finally StreamRunner.stopAll()
  }
}
