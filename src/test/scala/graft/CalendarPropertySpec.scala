package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.time.{Instant, LocalDate, ZoneId}

/** Property check: the engine's anchored N-unit calendar bucket
  * arithmetic (Strategy.calNBounds, exercised through windowGroup)
  * must agree with an independent java.time implementation for
  * random timestamps × zones × units × sizes × anchors — including
  * DST zones with 23h/25h days and a 30-minute-offset zone. */
class CalendarPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val zones = Seq("UTC", "America/New_York", "Asia/Tokyo",
    "Australia/Adelaide", "Europe/Berlin")

  /** Independent oracle: bucket start for `ts` in LOCAL calendar
    * arithmetic, mapped back to an instant. */
  private def oracleStart(ts: Instant, unit: String, size: Int,
      anchor: LocalDate, tz: String): Instant = {
    val zone = ZoneId.of(tz)
    val ld = ts.atZone(zone).toLocalDate
    val startLocal = unit match {
      case "day" | "week" =>
        val span = if (unit == "week") 7L * size else size.toLong
        val n = java.time.temporal.ChronoUnit.DAYS.between(anchor, ld)
        anchor.plusDays(Math.floorDiv(n, span) * span)
      case "month" =>
        val am = anchor.withDayOfMonth(1)
        val m = java.time.temporal.ChronoUnit.MONTHS.between(
          am, ld.withDayOfMonth(1))
        am.plusMonths(Math.floorDiv(m, size.toLong) * size)
      case "year" =>
        val y = (ld.getYear - anchor.getYear).toLong
        LocalDate.of(anchor.getYear
          + Math.floorDiv(y, size.toLong).toInt * size, 1, 1)
    }
    startLocal.atStartOfDay(zone).toInstant
  }

  test("anchored bucket starts agree with java.time across zones/units/sizes") {
    val rnd = new scala.util.Random(20260814)
    val cases = (1 to 12).map { _ =>
      val unit = Seq("day", "week", "month", "year")(rnd.nextInt(4))
      val size = 1 + rnd.nextInt(4)
      val anchor = LocalDate.of(2020 + rnd.nextInt(5),
        1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      val tz = zones(rnd.nextInt(zones.length))
      (unit, size, anchor, tz)
    }
    // 400 random instants across 2019-2026 — spans DST transitions
    // in every non-fixed zone above
    val instants = (1 to 400).map { _ =>
      Instant.ofEpochSecond(1546300800L +
        (rnd.nextDouble() * 8 * 365.25 * 86400).toLong,
        rnd.nextInt(1000000) * 1000L)
    }
    val df = instants.map(i => java.sql.Timestamp.from(i)).toDF("ts")
    cases.foreach { case (unit, size, anchor, tz) =>
      val strategy = graft.config.Json.parse(
        s"""{"window": {"type": "calendar", "unit": "$unit",
             "size": $size, "startDate": "$anchor",
             "timezone": "$tz"}}""")
      val w = graft.streaming.Strategy
        .windowGroup(strategy, col("ts")).map(_.column).get
      val got = df.select(col("ts"), w.as("w")).collect()
        .map(r => r.getTimestamp(0).toInstant ->
          r.getTimestamp(1).toInstant).toMap
      instants.foreach { i =>
        val exp = oracleStart(i, unit, size, anchor, tz)
        assert(got(i) == exp,
          s"unit=$unit size=$size anchor=$anchor tz=$tz ts=$i: " +
            s"got ${got(i)}, expected $exp")
      }
    }
  }

  /** Pins calendarEndOf (the bucket-END derivation behind the exact
    * pane engine's retention horizon and END_OF_WINDOW,
    * local wall-time interval addition) at BOTH DST transitions in
    * two zones: the spring-forward 23h day must still end at the
    * next local midnight (one UTC hour early), the fall-back 25h day
    * one UTC hour late. Instants sweep the transition days at 30-min
    * steps, so the skipped/repeated local hours are all covered. */
  test("calendar bucket ENDS are DST-correct at both transitions") {
    val cases = Seq(
      ("Europe/Berlin", "2024-03-31"), ("Europe/Berlin", "2024-10-27"),
      ("America/New_York", "2024-03-10"), ("America/New_York", "2024-11-03"))
    for ((tz, day) <- cases; unit <- Seq("day", "week", "month")) {
      val zone = ZoneId.of(tz)
      val d0 = LocalDate.parse(day).atStartOfDay(zone).toInstant
      val instants = (0 until 27 * 2).map(i => d0.plusSeconds(i * 1800L))
      val df = instants.map(i => java.sql.Timestamp.from(i)).toDF("ts")
      val strategy = graft.config.Json.parse(
        s"""{"window": {"type": "calendar", "unit": "$unit",
             "timezone": "$tz"}}""")
      val end = graft.streaming.Strategy.calendarEndOf(strategy, col("ts"))
      val got = df.select(col("ts"), end.as("e")).collect()
        .map(r => r.getTimestamp(0).toInstant ->
          r.getTimestamp(1).toInstant).toMap
      instants.foreach { i =>
        val ld = i.atZone(zone).toLocalDate
        val endLocal = unit match {
          case "day" => ld.plusDays(1)
          case "week" =>
            ld.minusDays(ld.getDayOfWeek.getValue - 1L).plusDays(7)
          case "month" => ld.withDayOfMonth(1).plusMonths(1)
        }
        val exp = endLocal.atStartOfDay(zone).toInstant
        assert(got(i) == exp,
          s"tz=$tz unit=$unit ts=$i: got ${got(i)}, expected $exp")
      }
    }
  }

  test("default-path buckets (size 1, no anchor) equal the generalized path") {
    val rnd = new scala.util.Random(42)
    val instants = (1 to 200).map(_ => Instant.ofEpochSecond(
      1577836800L + (rnd.nextDouble() * 4 * 365.25 * 86400).toLong))
    val df = instants.map(i => java.sql.Timestamp.from(i)).toDF("ts")
    for (unit <- Seq("day", "month", "year"); tz <- zones) {
      val legacy = graft.streaming.Strategy.windowGroup(
        graft.config.Json.parse(s"""{"window": {"type": "calendar",
          "unit": "$unit", "timezone": "$tz"}}"""), col("ts")).map(_.column).get
      val general = graft.streaming.Strategy.windowGroup(
        graft.config.Json.parse(s"""{"window": {"type": "calendar",
          "unit": "$unit", "timezone": "$tz", "size": 1,
          "startDate": "1970-01-01"}}"""), col("ts")).map(_.column).get
      // explicit size/startDate routes through calNBounds; the
      // defaults route through date_trunc — same buckets required
      val bad = df.select(legacy.as("a"), general.as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(bad == 0, s"unit=$unit tz=$tz: $bad mismatches")
    }
  }
}
