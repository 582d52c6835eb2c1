package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Split-invariance and restart properties of the pane engine in both
  * accumulation modes, for every window shape it serves. Each seed draws keyed
  * events (one hot key holds about 20% of them), sorts them by time
  * and cuts them into 2–5 micro-batches at random points. The panes
  * are compared with a batch aggregate computed here from the events
  * alone, so the window assignment is checked too:
  *  - in order, allowedLateness 0: every closed (key, window) has
  *    exactly one ON_TIME pane, equal to its batch aggregate, and no
  *    pane is late;
  *  - with stragglers inside allowedLateness and a late firing: the
  *    last pane of every (key, window) equals its batch aggregate;
  *  - stopped after a random batch and re-executed on the same
  *    checkpoint, a run emits exactly the panes of an uninterrupted
  *    run.
  * Discarding panes, on the same batches: each batch fires one pane
  * per (key, window) it touched, holding that batch's elements only,
  * so the panes of a (key, window) together equal its batch
  * aggregate; no window has two ON_TIME panes; a pane is early
  * exactly when its window ends after the clock (the max event time)
  * that its own batch leaves; and a restart re-emits the
  * uninterrupted run's panes.
  * A failure names its seed. */
class PanePropertySpec extends AnyFunSuite {
  import PanePropertySpec.{Ev, Run}
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val h = 3600L
  private val seeds = Seq(11, 23, 37, 41)

  /** Ends (epoch s) of the `size`/`period` sliding windows holding t. */
  private def sliding(size: Long, period: Long)(t: Long): Seq[Long] =
    Iterator.iterate(Math.floorDiv(t, period) * period)(_ - period)
      .takeWhile(_ > t - size).map(_ + size).toSeq

  private def berlinDayEnd(t: Long): Seq[Long] = {
    val z = java.time.ZoneId.of("Europe/Berlin")
    Seq(java.time.Instant.ofEpochSecond(t).atZone(z).toLocalDate
      .plusDays(1).atStartOfDay(z).toEpochSecond)
  }

  /** (name, window, ends of the windows holding an event time) */
  private val shapes: Seq[(String, String, Long => Seq[Long])] = Seq(
    ("fixed", "{type: fixed, unit: hour, size: 6}", sliding(6 * h, 6 * h)),
    ("calendar", "{type: calendar, unit: day, timezone: Europe/Berlin}",
      berlinDayEnd),
    ("sliding12x6", "{type: sliding, unit: hour, size: 12, period: 6}",
      sliding(12 * h, 6 * h)),
    ("sliding5x2", "{type: sliding, unit: hour, size: 5, period: 2}",
      sliding(5 * h, 2 * h)))

  /** In-order batches of `seed`'s events, and the same events with
    * about a quarter of them moved into a later batch while the clock
    * before that batch is still inside `lateness` of the event (each
    * batch keeps its newest event, so both splits share one clock). */
  private def draw(seed: Int, lateness: Long)
      : (Seq[Seq[Ev]], Seq[Seq[Ev]]) = {
    val rnd = new scala.util.Random(seed)
    val base = 1704672000L // 2024-01-08T00:00Z
    val n = 30 + rnd.nextInt(20)
    val evs = Seq.fill(n) {
      val k = if (rnd.nextDouble() < 0.2) "hot" else s"k${rnd.nextInt(6)}"
      Ev(k, base + rnd.nextLong(4 * 24 * h), (1 + rnd.nextInt(100)).toDouble)
    }.sortBy(_.t)
    val cuts = rnd.shuffle((1 until n).toList).take(1 + rnd.nextInt(4))
      .sorted
    val inOrder = (0 +: cuts).zip(cuts :+ n).map { case (a, b) =>
      evs.slice(a, b) }
    val clockBefore = inOrder.scanLeft(Long.MinValue)((w, b) =>
      math.max(w, b.map(_.t).max))
    val late = inOrder.map(_ => Seq.newBuilder[Ev])
    inOrder.zipWithIndex.foreach { case (b, i) =>
      val newest = b.maxBy(_.t)
      b.foreach { e =>
        val later = (i + 1 until inOrder.size)
          .filter(j => clockBefore(j) <= e.t + lateness)
        if (e != newest && later.nonEmpty && rnd.nextDouble() < 0.25)
          late(later(rnd.nextInt(later.size))) += e
        else late(i) += e
      }
    }
    (inOrder, late.map(_.result()))
  }

  /** Pane aggregations over `src` in accumulation `mode`, one per
    * shape, each into a memory sink `<prefix>_<shape>`. */
  private def panesYaml(src: String, prefix: String, lateness: String,
      lateFiring: Boolean, ckpt: String,
      mode: String = "accumulating"): (String, String) = {
    val delay = "{type: afterProcessingTime, pastFirstElementDelay: " +
      "200, pastFirstElementDelayUnit: millisecond}"
    val late = if (lateFiring) s"\n      |        lateFiringTrigger: $delay"
      else ""
    val transforms = shapes.map { case (name, window, _) => s"""
      |  - name: agg_${prefix}_$name
      |    module: aggregation
      |    inputs: [$src]
      |    strategy:
      |      mode: $mode
      |      timestampField: ts
      |      allowedLateness: $lateness
      |      window: $window
      |      trigger:
      |        type: afterWatermark
      |        earlyFiringTrigger: $delay$late
      |    parameters:
      |      groupFields: [k]
      |      aggregations:
      |        - input: $src
      |          fields:
      |            - {name: n, op: count}
      |            - {name: s, op: sum, field: value}
      |            - {name: mn, op: min, field: value}""" }.mkString
    val sinks = shapes.map { case (name, _, _) => s"""
      |  - name: ${prefix}_$name
      |    module: memory
      |    input: agg_${prefix}_$name
      |    parameters: {checkpointLocation: $ckpt/${prefix}_$name}"""
    }.mkString
    (transforms, sinks)
  }

  private def pipeline(sources: Seq[(String, String)],
      parts: Seq[(String, String)]): String =
    ("\n|sources:" + sources.map { case (name, dir) => s"""
      |  - name: $name
      |    module: storage
      |    parameters: {path: $dir, stream: true}""" }.mkString +
      "\n|transforms:" + parts.map(_._1).mkString +
      "\n|sinks:" + parts.map(_._2).mkString + "\n").stripMargin

  /** Stage `evs` as one parquet file in the stream directory `dir`. */
  private def stage(dir: String, file: String, evs: Seq[Ev]): Unit = {
    val tmp = s"$dir-tmp-$file"
    evs.map(e => (e.k, e.t, e.v)).toDF("k", "secs", "value")
      .select($"k", timestamp_seconds($"secs").as("ts"), $"value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, s"$file.parquet").toPath)
  }

  private def key(r: Row): String = r.getAs[String]("k")
  private def end(r: Row): Long =
    r.getAs[Row]("window").getAs[java.sql.Timestamp]("end").getTime / 1000
  private def tag(r: Row): String = r.getAs[String]("__pane")
  private def agg(r: Row): (Long, Double, Double) =
    (r.getAs[Long]("n"), r.getAs[Double]("s"), r.getAs[Double]("mn"))

  /** (key, window end, pane, ordinal, (n, s, mn)) of a pane row. */
  private type Pane = (String, Long, String, Long, (Long, Double, Double))
  private def pane(r: Row): Pane =
    (key(r), end(r), tag(r), r.getAs[Long]("__pane_index"), agg(r))

  private def batchAgg(evs: Seq[Ev], endsOf: Long => Seq[Long])
      : Map[(String, Long), (Long, Double, Double)] =
    evs.flatMap(e => endsOf(e.t).map(end => (e.k, end) -> e.v))
      .groupMap(_._1)(_._2)
      .map { case (kw, vs) => kw -> (vs.size.toLong, vs.sum, vs.min) }

  private val lateness = 24 * h

  /** Both streams into both modes: `in`/`din` (in order, lateness 0)
    * and `late`/`dlate` (stragglers, lateness 24 h, late firing) in
    * one pipeline, and `re`/`dre` (the straggler stream again) in a
    * second pipeline that is stopped after a random batch and
    * re-executed on the same checkpoints. */
  private def run(seed: Int): Run = {
    val dir = java.nio.file.Files.createTempDirectory(
      s"graft-paneprop-$seed").toString
    val (inOrder, withLate) = draw(seed, lateness)
    val restartAfter =
      new scala.util.Random(seed).nextInt(inOrder.size - 1)
    val ckpt = s"$dir/ckpt"
    val main = pipeline(
      Seq("ord" -> s"$dir/ord", "lt" -> s"$dir/late"),
      Seq(panesYaml("ord", "in", "0", lateFiring = false, ckpt),
        panesYaml("lt", "late", "24h", lateFiring = true, ckpt),
        panesYaml("ord", "din", "0", lateFiring = false, ckpt, "discarding"),
        panesYaml("lt", "dlate", "24h", lateFiring = true, ckpt,
          "discarding")))
    val restarted = pipeline(Seq("lt" -> s"$dir/late"),
      Seq(panesYaml("lt", "re", "24h", lateFiring = true, ckpt),
        panesYaml("lt", "dre", "24h", lateFiring = true, ckpt,
          "discarding")))
    def sinks(prefixes: String*): Seq[String] =
      for (p <- prefixes; (name, _, _) <- shapes) yield s"${p}_$name"
    def rowsOf(sink: String): List[Row] =
      Option(StreamRunner.paneStore.get(sink)).map(_.toList.map(_._2))
        .getOrElse(Nil)
    val all = sinks("in", "late", "din", "dlate", "re", "dre")
    val sizes = all.map(_ -> Seq.newBuilder[Int]).toMap
    var reBefore = Map.empty[String, List[Row]]
    var reQueries = Seq.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      inOrder.indices.foreach { i =>
        stage(s"$dir/ord", s"b$i", inOrder(i))
        stage(s"$dir/late", s"b$i", withLate(i))
        if (i == 0) {
          Pipeline.execute(spark, main)
          val before = StreamRunner.allQueries.toSet
          Pipeline.execute(spark, restarted)
          reQueries = StreamRunner.allQueries.filterNot(before)
        }
        StreamRunner.drainAll()
        if (i == restartAfter) {
          // stop the restarted pipeline only, keep what its sinks
          // emitted so far (a new run starts a fresh buffer), and
          // re-execute it on the same checkpoints
          reBefore = sinks("re", "dre").map(s => s -> rowsOf(s)).toMap
          reQueries.foreach(_.stop())
          Pipeline.execute(spark, restarted)
          StreamRunner.drainAll()
        }
        all.foreach(s => sizes(s) += rowsOf(s).size)
      }
    } finally StreamRunner.stopAll()
    Run(inOrder, withLate, all.map(s => s -> rowsOf(s)).toMap,
      sizes.map { case (s, b) => s -> b.result() }, reBefore)
  }

  private lazy val runs: Map[Int, Run] = seeds.map(s => s -> run(s)).toMap

  test("accumulating panes: ON_TIME and last panes equal the batch " +
      "aggregate however the events are split, and a restart " +
      "re-emits the uninterrupted run's panes") {
    seeds.foreach { seed =>
      val run = runs(seed)
      val clock = run.inOrder.flatten.map(_.t).max
      shapes.foreach { case (name, _, endsOf) =>
        withClue(s"seed $seed, $name window: ") {
          val all = batchAgg(run.inOrder.flatten, endsOf)
          val closed = all.filter(_._1._2 <= clock)
          val in = run.rows(s"in_$name").map(pane)
          assert(!in.exists(_._3 == "late"))
          assert(in.filter(_._3 == "onTime").map(p => (p._1, p._2) -> p._5)
            .sortBy(_._1) == closed.toList.sortBy(_._1))
          val late = run.rows(s"late_$name").map(pane)
          val last = late.groupBy(p => (p._1, p._2)).map { case (kw, ps) =>
            kw -> ps.maxBy(_._4)._5 }
          assert(last == all)
          assert((run.reBefore(s"re_$name") ++ run.rows(s"re_$name"))
            .map(pane).sortBy(_.toString) == late.sortBy(_.toString))
        }
      }
    }
  }

  test("discarding panes: each batch fires its own elements once per " +
      "(key, window), early exactly while the clock is before the " +
      "window end, and a restart re-emits the uninterrupted run's panes") {
    seeds.foreach { seed =>
      val run = runs(seed)
      // the clock after each batch: both streams share it
      val clockAfter = run.inOrder.scanLeft(Long.MinValue)((w, b) =>
        math.max(w, b.map(_.t).max)).tail
      shapes.foreach { case (name, _, endsOf) =>
        Seq("din" -> run.inOrder, "dlate" -> run.withLate).foreach {
          case (prefix, batches) =>
            withClue(s"seed $seed, $name window, $prefix: ") {
              val rows = run.rows(s"${prefix}_$name")
              val cuts = 0 +: run.sizes(s"${prefix}_$name")
              val perBatch = batches.indices.map(i =>
                rows.slice(cuts(i), cuts(i + 1)))
              def kw(r: Row): (String, Long) = (key(r), end(r))
              val together = rows.groupMap(kw)(agg).map { case (w, as) =>
                w -> (as.map(_._1).sum, as.map(_._2).sum, as.map(_._3).min) }
              assert(together == batchAgg(batches.flatten, endsOf))
              assert(rows.filter(tag(_) == "onTime").groupBy(kw)
                .forall(_._2.size == 1))
              perBatch.zip(clockAfter).foreach { case (ps, clock) =>
                ps.foreach(r =>
                  assert((tag(r) == "early") == (end(r) > clock), r))
              }
              perBatch.zip(batches).foreach { case (ps, b) =>
                assert(ps.map(r => kw(r) -> agg(r)).sortBy(_.toString) ==
                  batchAgg(b, endsOf).toList.sortBy(_.toString))
              }
              assert(rows.groupMap(kw)(_.getAs[Long]("__pane_index"))
                .values.forall(ix => ix == ix.indices.map(_.toLong)))
            }
        }
        withClue(s"seed $seed, $name window, restart: ") {
          assert((run.reBefore(s"dre_$name") ++ run.rows(s"dre_$name"))
            .map(pane).sortBy(_.toString) ==
            run.rows(s"dlate_$name").map(pane).sortBy(_.toString))
        }
      }
    }
  }
}

private object PanePropertySpec {
  final case class Ev(k: String, t: Long, v: Double)

  /** One seed's staged batches and what its sinks emitted: every
    * sink's pane rows, each sink's row count after every batch, and
    * the rows a restarted sink emitted before its stop. */
  final case class Run(inOrder: Seq[Seq[Ev]], withLate: Seq[Seq[Ev]],
      rows: Map[String, List[org.apache.spark.sql.Row]],
      sizes: Map[String, Seq[Int]],
      reBefore: Map[String, List[org.apache.spark.sql.Row]])
}
