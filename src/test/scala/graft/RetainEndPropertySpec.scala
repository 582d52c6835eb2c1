package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property check for Strategy.elementRetainEnd and Strategy.endGrid
  * — the invariants the exact-pane engine's store compaction AND
  * fired-window scan pruning rest on: for FIXED and CALENDAR windows
  * the horizon must equal the element's single window's END exactly
  * and the end grid has k = 1 (every element feeds one window, so a
  * `__wend`-pruned read sees all of a fired window's elements); for
  * SLIDING windows it must be the MAXIMUM end over all containing
  * windows, and the grid (period, k) names every containing end when
  * size = k·period. Checked against the window assignment Spark's
  * own `window()` grouping produces, across random
  * sizes/offsets/periods/zones. */
class RetainEndPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def strategy(json: String) = graft.config.Json.parse(json)

  private def tsFrame(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => 1704067200L + (rnd.nextDouble() * 90 * 86400).toLong)
      .toDF("sec")
      .withColumn("ts", col("sec").cast("timestamp"))
  }

  test("fixed windows: horizon == the window's end, for every size/offset") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 8) {
      val size = 60L * (1 + rnd.nextInt(720))
      val off = rnd.nextInt(size.toInt).toLong
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "fixed",
             "size": $size, "offset": $off}}""")
      val df = tsFrame(200, rnd.nextInt())
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      // the window() grouping's own end for each element
      val w = graft.streaming.Strategy
        .windowGroup(st, col("ts")).map(_.column).get
      val bad = df
        .withColumn("__h", horizon(df))
        .withColumn("__w", w)
        .filter(col("__h") =!= col("__w.end").cast("long"))
        .count()
      assert(bad == 0, s"size=$size off=$off: $bad horizon mismatches")
      assert(graft.streaming.Strategy.endGrid(st).contains((size, 1)))
    }
  }

  test("fixed windows ignore a stray period: horizon == the window's " +
      "end and the end grid is (size, 1)") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 6) {
      val size = 60L * (2 + rnd.nextInt(720))
      val period = 60L * (1 + rnd.nextInt((size / 60 - 1).toInt))
      val off = rnd.nextInt(size.toInt).toLong
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "fixed",
             "size": $size, "period": $period, "offset": $off}}""")
      val df = tsFrame(200, rnd.nextInt())
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      val w = graft.streaming.Strategy
        .windowGroup(st, col("ts")).map(_.column).get
      val bad = df
        .withColumn("__h", horizon(df))
        .withColumn("__w", w)
        .filter(col("__h") =!= col("__w.end").cast("long"))
        .count()
      assert(bad == 0,
        s"size=$size period=$period off=$off: $bad horizon mismatches")
      assert(graft.streaming.Strategy.endGrid(st).contains((size, 1)))
    }
  }

  test("calendar buckets: horizon == calendarEndOf, across zones/units") {
    for (tz <- Seq("UTC", "Asia/Tokyo", "Europe/Berlin");
         unit <- Seq("day", "week", "month")) {
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "calendar",
             "unit": "$unit", "timezone": "$tz"}}""")
      val df = tsFrame(200, tz.hashCode ^ unit.hashCode)
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      val end = graft.streaming.Strategy.calendarEndOf(st, col("ts"))
      val bad = df
        .withColumn("__h", horizon(df))
        .withColumn("__e", end.cast("long"))
        .filter(col("__h") =!= col("__e"))
        .count()
      assert(bad == 0, s"tz=$tz unit=$unit: $bad horizon mismatches")
      assert(graft.streaming.Strategy.endGrid(st).exists(_._2 == 1),
        "calendar must have a one-end grid")
    }
  }

  test("sliding windows: horizon == MAX containing end (upper bound), " +
      "flagged non-exact") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 6) {
      val period = 60L * (1 + rnd.nextInt(120))
      val size = period * (2 + rnd.nextInt(4))
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "sliding",
             "size": $size, "period": $period}}""")
      assert(graft.streaming.Strategy.endGrid(st)
        .contains((period, (size / period).toInt)),
        "sliding must have a k-end grid, k > 1")
      val df = tsFrame(120, rnd.nextInt())
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      // window() in a grouping explodes one row per containing
      // window; the max end per element must equal the horizon
      val maxEnd = df
        .groupBy(col("sec"),
          window(col("ts"), s"$size seconds", s"$period seconds"))
        .count()
        .groupBy("sec")
        .agg(max(col("window.end").cast("long")).as("__max"))
      val bad = df.withColumn("__h", horizon(df))
        .join(maxEnd, "sec")
        .filter(col("__h") =!= col("__max"))
        .count()
      assert(bad == 0, s"size=$size period=$period: $bad mismatches")
    }
  }

  test("sliding end grid: when size = k·period, the containing end " +
      "set is exactly {horizon − j·period, 0 ≤ j < k} — the identity " +
      "the pruned sliding re-aggregation rests on") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 6) {
      val period = 60L * (1 + rnd.nextInt(120))
      val k = 2 + rnd.nextInt(4)
      val size = period * k
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "sliding",
             "size": $size, "period": $period}}""")
      assert(graft.streaming.Strategy.endGrid(st)
        .contains((period, k)))
      val df = tsFrame(120, rnd.nextInt())
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      // every containing end from window()'s own assignment must be
      // one of the k grid points below the horizon, and there must
      // be exactly k of them per element
      val ends = df
        .groupBy(col("sec"),
          window(col("ts"), s"$size seconds", s"$period seconds"))
        .count()
        .groupBy("sec")
        .agg(collect_set(col("window.end").cast("long")).as("__ends"))
      val checked = df.withColumn("__h", horizon(df))
        .join(ends, "sec")
        .withColumn("__grid", array(
          (0 until k).map(j => col("__h") - lit(j * period)): _*))
        .filter(org.apache.spark.sql.functions.size(col("__ends")) =!= k ||
          org.apache.spark.sql.functions.size(
            array_except(col("__ends"), col("__grid"))) =!= 0)
        .count()
      assert(checked == 0, s"size=$size period=$period: grid mismatch")
    }
    // non-divisible size: the grid is undefined (the engine keeps
    // the full-read path)
    val odd = strategy(
      """{"timestampField": "ts", "window": {"type": "sliding",
          "size": 500, "period": 180}}""")
    assert(graft.streaming.Strategy.endGrid(odd).isEmpty)
  }

  /** The exact-pane engine keeps an element until its horizon and
    * fires only windows whose end is a horizon, so the streaming
    * grouping's window end must BE the horizon — in zones whose UTC
    * offset changed within the data's years too (a fixed window at
    * today's offset would end an hour off the zone-history bucket
    * end, and its panes would never fire). */
  test("calendar buckets: horizon == the streaming grouping's window " +
      "end, across historical offset changes") {
    val zones = Seq(
      "America/Sao_Paulo" -> "2018-10-01T00:00:00Z", // DST until 2019
      "Europe/Moscow" -> "2014-06-01T00:00:00Z",     // +4 until 2014-10
      "Asia/Tokyo" -> "2024-01-01T00:00:00Z",
      "UTC" -> "2024-01-01T00:00:00Z")
    for ((tz, from) <- zones; unit <- Seq("day", "week")) {
      val st = strategy(
        s"""{"timestampField": "ts", "window": {"type": "calendar",
             "unit": "$unit", "timezone": "$tz"}}""")
      val base = java.time.Instant.parse(from).getEpochSecond
      val rnd = new scala.util.Random(tz.hashCode ^ unit.hashCode)
      val df = (1 to 200).map(_ => base + (rnd.nextDouble() * 180 * 86400).toLong)
        .toDF("sec").withColumn("ts", col("sec").cast("timestamp"))
      val gw = graft.streaming.Strategy
        .windowGroup(st, col("ts"), streaming = true).get
      val ends = gw.post(df.groupBy(col("sec"), gw.column.as("window"))
        .count())
        .select(col("sec"), col("window.end").cast("long").as("__e"))
      val horizon = graft.streaming.Strategy.elementRetainEnd(st).get
      val bad = df.withColumn("__h", horizon(df))
        .join(ends, "sec")
        .filter(col("__h") =!= col("__e"))
        .count()
      assert(bad == 0, s"tz=$tz unit=$unit: $bad horizon mismatches")
    }
  }
}
