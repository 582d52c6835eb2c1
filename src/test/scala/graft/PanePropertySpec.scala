package graft

import graft.streaming.StreamRunner
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Split-invariance and restart properties of the accumulating pane
  * engine, for every window shape it serves. Each seed draws keyed
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
  * A failure names its seed. */
class PanePropertySpec extends AnyFunSuite {
  import PanePropertySpec.Ev
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

  /** Accumulating pane aggregations over `src`, one per shape, each
    * into a memory sink `<prefix>_<shape>`. */
  private def panesYaml(src: String, prefix: String, lateness: String,
      lateFiring: Boolean, ckpt: String): (String, String) = {
    val delay = "{type: afterProcessingTime, pastFirstElementDelay: " +
      "200, pastFirstElementDelayUnit: millisecond}"
    val late = if (lateFiring) s"\n      |        lateFiringTrigger: $delay"
      else ""
    val transforms = shapes.map { case (name, window, _) => s"""
      |  - name: agg_${prefix}_$name
      |    module: aggregation
      |    inputs: [$src]
      |    strategy:
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

  /** (key, window end, pane, ordinal, (n, s, mn)) of a sink's panes. */
  private type Pane = (String, Long, String, Long, (Long, Double, Double))
  private def panes(sink: String): List[Pane] =
    Option(StreamRunner.paneStore.get(sink)).map(_.toList).getOrElse(Nil)
      .map { case (_, r) =>
        (r.getAs[String]("k"),
          r.getAs[Row]("window").getAs[java.sql.Timestamp]("end")
            .getTime / 1000,
          r.getAs[String]("__pane"), r.getAs[Long]("__pane_index"),
          (r.getAs[Long]("n"), r.getAs[Double]("s"), r.getAs[Double]("mn")))
      }

  private def batchAgg(evs: Seq[Ev], endsOf: Long => Seq[Long])
      : Map[(String, Long), (Long, Double, Double)] =
    evs.flatMap(e => endsOf(e.t).map(end => (e.k, end) -> e.v))
      .groupMap(_._1)(_._2)
      .map { case (kw, vs) => kw -> (vs.size.toLong, vs.sum, vs.min) }

  test("accumulating panes: ON_TIME and last panes equal the batch " +
      "aggregate however the events are split, and a restart " +
      "re-emits the uninterrupted run's panes") {
    val lateness = 24 * h
    seeds.foreach { seed =>
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft-paneprop-$seed").toString
      val (inOrder, withLate) = draw(seed, lateness)
      val restartAfter =
        new scala.util.Random(seed).nextInt(inOrder.size - 1)
      val main = pipeline(
        Seq("ord" -> s"$dir/ord", "lt" -> s"$dir/late"),
        Seq(panesYaml("ord", "in", "0", lateFiring = false, s"$dir/ckpt"),
          panesYaml("lt", "late", "24h", lateFiring = true, s"$dir/ckpt")))
      val restarted = pipeline(Seq("lt" -> s"$dir/late"),
        Seq(panesYaml("lt", "re", "24h", lateFiring = true, s"$dir/ckpt")))
      var reBefore = Map.empty[String, List[Pane]]
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
            reBefore = shapes.map { case (name, _, _) =>
              name -> panes(s"re_$name") }.toMap
            reQueries.foreach(_.stop())
            Pipeline.execute(spark, restarted)
            StreamRunner.drainAll()
          }
        }
      } finally StreamRunner.stopAll()
      val clock = inOrder.flatten.map(_.t).max
      shapes.foreach { case (name, _, endsOf) =>
        withClue(s"seed $seed, $name window: ") {
          val all = batchAgg(inOrder.flatten, endsOf)
          val closed = all.filter(_._1._2 <= clock)
          val in = panes(s"in_$name")
          assert(!in.exists(_._3 == "late"))
          assert(in.filter(_._3 == "onTime").map(p => (p._1, p._2) -> p._5)
            .sortBy(_._1) == closed.toList.sortBy(_._1))
          val late = panes(s"late_$name")
          val last = late.groupBy(p => (p._1, p._2)).map { case (kw, ps) =>
            kw -> ps.maxBy(_._4)._5 }
          assert(last == all)
          assert((reBefore(name) ++ panes(s"re_$name")).sortBy(_.toString) ==
            late.sortBy(_.toString))
        }
      }
    }
  }
}

private object PanePropertySpec {
  final case class Ev(k: String, t: Long, v: Double)
}
