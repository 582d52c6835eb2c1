package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import graft.config.Json._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Windowing strategy — the Spark mapping of the reference's
  * per-module `strategy` block (`module/Strategy.java:118-218`):
  * `global | fixed(size) | sliding(size, period) | session(gap) |
  * calendar(day/week/month/year, timezone)` with `unit`
  * (second/minute/hour/day), `offset`, `allowedLateness`.
  *
  * Batch and streaming share this: `window()`/`session_window()` group
  * columns work in both; `allowedLateness` becomes `withWatermark` on
  * streaming inputs (SURVEY §2.9). Beam's early/late/composite
  * triggers and accumulating panes have no Structured Streaming
  * equivalent — output modes append/update are the documented
  * approximation; triggers are query-level (see StreamRunner).
  */
object Strategy {

  private val DurationLit = """(\d+)\s*(s|sec|second|seconds|m|min|minute|minutes|h|hour|hours|d|day|days)""".r

  private def seconds(node: JsonNode, field: String): Option[Long] = {
    // calendar strategies use `unit` for the BUCKET (day/week/month/
    // year), not as a duration multiplier — a numeric duration field
    // on a calendar node (offset, allowedLateness) is plain seconds;
    // otherwise {unit: day, allowedLateness: 600} silently meant 600
    // DAYS and {unit: week, ...} threw on a valid config
    val unit =
      if (node.str("type").contains("calendar")) "second"
      else node.str("unit").getOrElse("second")
    lazy val mult = unit match {
      case "second" => 1L
      case "minute" => 60L
      case "hour" => 3600L
      case "day" => 86400L
      case other =>
        throw new IllegalArgumentException(s"unknown time unit: $other")
    }
    node(field).map { v =>
      if (v.isNumber) v.asLong * mult
      else v.asText.trim match {
        // duration literal carries its own unit ("90s", "5m", "2h");
        // a bare numeric string uses the node's `unit`
        case s if s.matches("""\d+""") => s.toLong * mult
        case DurationLit(n, u) =>
          n.toLong * (u.head match {
            case 's' => 1L case 'm' => 60L case 'h' => 3600L
            case 'd' => 86400L
          })
        case other =>
          // asLong would silently yield 0 here (a "60 s" typo became
          // a zero-width window crash three modules later)
          throw new IllegalArgumentException(
            s"cannot parse duration '$other' for strategy field '$field'")
      }
    }
  }

  private def dur(s: Long): String = s"$s seconds"

  /** Numeric epoch → timestamp with unit detected by magnitude:
    * ns ≥ 1e17, µs ≥ 1e14, ms ≥ 1e11, else seconds — correct for any
    * real-world instant between 1973 and ~5000 in any of the four
    * units. A bare cast assumes SECONDS, so a nanos column (e.g.
    * parquet timestamp[ns] read under nanosAsLong) silently clamped
    * to +294247-01-10 (Long.MaxValue µs) and append-mode windows
    * never closed. */
  private[graft] def epochToTimestamp(c: Column): Column = {
    val a = abs(c)
    // integral div, NOT `/` (which promotes to double: at ~1.7e18 ns
    // the double ulp is ~256 ns, so truncation could land 1µs off an
    // exact integer-arithmetic replay at a window boundary)
    when(a >= 100000000000000000L,
        timestamp_micros(call_function("div", c.cast("long"), lit(1000L))))
      .when(a >= 100000000000000L, timestamp_micros(c.cast("long")))
      .when(a >= 100000000000L, timestamp_millis(c.cast("long")))
      .otherwise(c.cast(TimestampType))
  }

  private[graft] def toTimestamp(df: DataFrame, field: String): Column = {
    import org.apache.spark.sql.types.{IntegerType, LongType,
      TimestampNTZType}
    df.schema.fields.find(_.name == field).map(_.dataType) match {
      case Some(TimestampType) => col(field)
      case Some(LongType) | Some(IntegerType) => epochToTimestamp(col(field))
      // parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as NTZ; the
      // engine's convention reads the wall-clock value as a UTC
      // instant. A bare cast interprets it in the SESSION zone — an
      // externally built SparkSession in a non-UTC zone would
      // silently shift every event time — so shift the wall time
      // into the session zone first; the cast then lands on the
      // original UTC instant in any session timezone (identity when
      // the session is UTC, as Verify/Bench/Run all configure).
      case Some(TimestampNTZType) =>
        val sessionTz =
          df.sparkSession.sessionState.conf.sessionLocalTimeZone
        if (sessionTz == "UTC") col(field).cast(TimestampType)
        else convert_timezone(lit("UTC"), lit(sessionTz), col(field))
          .cast(TimestampType)
      case _ => col(field).cast(TimestampType)
    }
  }

  /** Event-time column for a module: explicit `timestampField`, else
    * the engine's `__event_time`, else null. The bare attribute is
    * used when it is already TimestampType — wrapping the watermarked
    * column in a (no-op) cast strips Spark's watermark tracking and
    * fails append-mode aggregations. */
  def eventTimeCol(df: DataFrame, node: JsonNode): Option[Column] =
    node.str("timestampField").map(f => toTimestamp(df, f))
      .orElse(
        if (df.columns.contains("__event_time"))
          Some(col("__event_time")) else None)

  /** A streaming-safe window grouping: the groupBy Column plus a
    * post-aggregation projection (identity except for streaming
    * calendar windows, where the dynamic-gap session struct is
    * rewritten to the calendar bucket boundaries). */
  final case class GroupWindow(column: Column,
      post: DataFrame => DataFrame = identity)

  def windowGroup(strategy: JsonNode, ts: Column,
      streaming: Boolean = false): Option[GroupWindow] = {
    val w = strategy("window").getOrElse(strategy)
    w.str("type").getOrElse("global") match {
      case "global" => None
      case "fixed" =>
        val size = seconds(w, "size").getOrElse(
          throw new IllegalArgumentException("fixed window requires size"))
        val off = seconds(w, "offset").getOrElse(0L)
        Some(GroupWindow(window(ts, dur(size), dur(size), dur(off))))
      case "sliding" =>
        val size = seconds(w, "size").getOrElse(
          throw new IllegalArgumentException("sliding window requires size"))
        val period = seconds(w, "period").getOrElse(
          throw new IllegalArgumentException(
            "sliding window requires period"))
        Some(GroupWindow(window(ts, dur(size), dur(period),
          dur(seconds(w, "offset").getOrElse(0L)))))
      case "session" =>
        val gap = seconds(w, "gap").getOrElse(
          throw new IllegalArgumentException("session window requires gap"))
        Some(GroupWindow(session_window(ts, dur(gap))))
      case "calendar" =>
        // month/year windows via date_trunc in the strategy timezone
        val tz = w.str("timezone").getOrElse("UTC")
        val unit = w.str("unit").getOrElse("day")
        val truncUnit = unit match {
          case "day" | "week" | "month" | "year" => unit.toUpperCase
          case other => throw new IllegalArgumentException(
            s"calendar unit: $other")
        }
        // N-unit calendar windows with an anchor (reference
        // CalendarWindows.days/weeks/months/years(size) +
        // withStartingDay/Month/Year, Strategy.java:195-215): `size`
        // buckets of `unit` anchored at `startDate` (week: `offset`
        // is Beam's startDayOfWeek shift, applied as anchor+offset
        // days). The default (size 1, no anchor) keeps the cheaper
        // date_trunc paths below — including their ISO-Monday week
        // convention.
        val calSize = w.int("size").filter(_ > 0).getOrElse(1)
        val weekOff =
          if (unit == "week") w.int("offset").getOrElse(0) else 0
        val anchored =
          calSize != 1 || w.str("startDate").isDefined || weekOff != 0
        def bounds(c: Column): (Column, Column) =
          calNBounds(c, unit, calSize,
            w.str("startDate").getOrElse("1970-01-01"), weekOff, tz)
        if (!streaming) {
          val start =
            if (anchored) bounds(ts)._1
            else to_utc_timestamp(
              date_trunc(truncUnit, from_utc_timestamp(ts, tz)), tz)
          Some(GroupWindow(start.as("window_start")))
        } else fixedCalendarGrid(w) match {
          // grouping by a bare date_trunc'd column loses the
          // watermark linkage (append mode then fails with a cryptic
          // Spark error). Two append-safe encodings instead:
          //  - day/week in a fixed-offset zone: true fixed windows
          //    with a boundary on the anchor's local midnight — same
          //    buckets, cheapest state (one window struct per key).
          //  - everything else (month/year anywhere; day/week in DST
          //    zones): DYNAMIC-GAP session windows, see
          //    dynamicCalendarSession.
          case Some((span, off)) =>
            Some(GroupWindow(window(ts, dur(span), dur(span), dur(off))))
          case None if anchored =>
            Some(dynamicCalendarSession(ts,
              c => bounds(c)._1, c => bounds(c)._2))
          case None =>
            Some(dynamicCalendarSession(ts,
              c => to_utc_timestamp(
                date_trunc(truncUnit, from_utc_timestamp(c, tz)), tz),
              c => calendarBucketEnd(c, truncUnit, tz)))
        }
      case other =>
        throw new IllegalArgumentException(s"window type: $other")
    }
  }

  /** `(span, offset)` seconds of the fixed `window()` whose buckets
    * are a calendar day/week strategy's buckets, when its zone's UTC
    * offset has not changed since the Unix epoch (UTC, "+09:00",
    * Asia/Tokyo — last change 1951): spans of size days or weeks,
    * a boundary on the anchor's local midnight (the default week
    * starts on ISO Monday, 1970-01-05 being one). The streaming
    * grouping and the exact-pane retention horizon
    * ([[elementRetainEnd]]) both take this grid, so a pane's window
    * end is always one of the engine's horizons. None for month and
    * year, for zones with DST rules, and for zones whose offset
    * changed since 1970 (America/Sao_Paulo until 2019,
    * Europe/Moscow until 2014): a bucket there needs the zone's full
    * history, which only the dynamic-gap session encoding follows. */
  private def fixedCalendarGrid(w: JsonNode): Option[(Long, Long)] = {
    val unit = w.str("unit").getOrElse("day")
    val rules =
      java.time.ZoneId.of(w.str("timezone").getOrElse("UTC")).getRules
    val fixedSinceEpoch = rules.isFixedOffset ||
      (rules.getTransitionRules.isEmpty &&
        rules.nextTransition(java.time.Instant.EPOCH) == null)
    if ((unit != "day" && unit != "week") || !fixedSinceEpoch) None
    else {
      val size = w.int("size").filter(_ > 0).getOrElse(1)
      val weekOff = if (unit == "week") w.int("offset").getOrElse(0) else 0
      val anchor = w.str("startDate").getOrElse(
        if (unit == "week" && size == 1 && weekOff == 0) "1970-01-05"
        else "1970-01-01")
      val span = (if (unit == "week") 7L * size else size.toLong) * 86400L
      val tzOff = rules.getOffset(java.time.Instant.EPOCH).getTotalSeconds
      val anchorUtc = java.time.LocalDate.parse(anchor)
        .plusDays(weekOff).toEpochDay * 86400L - tzOff
      Some((span, Math.floorMod(anchorUtc, span)))
    }
  }

  /** Append-safe streaming encoding for calendar buckets of ANY
    * shape: a DYNAMIC-GAP session window whose per-event gap extends
    * exactly to the end of the event's bucket, so consecutive events
    * of one bucket always overlap and merge into a single session,
    * and an event of the next bucket can never reach back across the
    * boundary. The per-event boundary math runs through
    * from_utc/to_utc with full zone rules, so DST transitions
    * (23h/25h days, variable month lengths) and historical offset
    * changes bucket identically to the batch date_trunc plan.
    *
    * The gap is the (fractional) seconds from the event to its
    * bucket end — always > 0 (an event ON the boundary belongs to
    * the NEXT bucket and gets that bucket's full span). Sessions
    * merge INCLUSIVELY on touching boundaries (an event at exactly a
    * prior session's end joins it), so the gap ends 1µs BEFORE the
    * bucket end or a boundary-exact event of the next bucket would
    * chain backwards. Clamped to stay positive (a non-positive
    * dynamic gap makes Spark DROP the event): an event in the
    * bucket's last microsecond keeps a 1µs gap, which ends exactly
    * on the boundary — the one (sub-second-pathological) case where
    * a boundary-exact successor would still merge.
    *
    * `post` rewrites the session struct to the true bucket bounds
    * (the raw session spans first-event → bucket end): recomputed
    * from window.start — an event time inside the bucket — rather
    * than trusting the raw session end's exact boundary encoding. */
  private def dynamicCalendarSession(ts: Column,
      startOf: Column => Column, endOf: Column => Column): GroupWindow = {
    val gapSecs = (greatest(
      unix_micros(endOf(ts)) - lit(1L) - unix_micros(ts),
      lit(1L)).cast("double") / lit(1e6)).cast("decimal(18,6)")
    // make_interval, not make_dt_interval: dynamic session gaps must
    // be CalendarIntervalType
    GroupWindow(
      session_window(ts,
        make_interval(lit(0), lit(0), lit(0), lit(0), lit(0),
          lit(0), gapSecs)),
      post = df => df.withColumn("window", struct(
        startOf(col("window.start")).as("start"),
        endOf(col("window.start")).as("end"))))
  }

  /** Local-calendar bucket bounds for N-unit anchored windows
    * (reference CalendarWindows via Strategy.java:195-215): bucket i
    * covers [anchor + i·size units, anchor + (i+1)·size units) in
    * the LOCAL wall time of `tz` (day arithmetic on zone-free DATEs,
    * so DST days bucket identically to Beam's calendar windows);
    * floor division keeps pre-anchor events in correctly negative
    * buckets. Returns (startUtc, endUtc). */
  private def calNBounds(ts: Column, unit: String, size: Int,
      anchor: String, weekOffsetDays: Int, tz: String)
      : (Column, Column) = {
    val ld = to_date(from_utc_timestamp(ts, tz))
    def utc(d: Column): Column = to_utc_timestamp(d.cast("timestamp"), tz)
    unit match {
      case "day" | "week" =>
        val span = if (unit == "week") 7 * size else size
        val sd0 = to_date(lit(anchor))
        val sd = if (weekOffsetDays == 0) sd0
          else date_add(sd0, weekOffsetDays)
        val idx = floor(datediff(ld, sd).cast("double") / lit(span))
          .cast("int")
        (utc(date_add(sd, idx * lit(span))),
          utc(date_add(sd, (idx + lit(1)) * lit(span))))
      case "month" =>
        // months anchor to the startDate's MONTH (reference
        // withStartingMonth drops the day-of-month)
        val sd = trunc(to_date(lit(anchor)), "MM")
        val m = (year(ld) - year(sd)) * lit(12) + (month(ld) - month(sd))
        val idx = floor(m.cast("double") / lit(size)).cast("int")
        (utc(add_months(sd, idx * lit(size))),
          utc(add_months(sd, (idx + lit(1)) * lit(size))))
      case "year" =>
        val sd = to_date(lit(anchor))
        val yy = year(ld) - year(sd)
        val idx = floor(yy.cast("double") / lit(size)).cast("int")
        (utc(make_date(year(sd) + idx * lit(size), lit(1), lit(1))),
          utc(make_date(year(sd) + (idx + lit(1)) * lit(size),
            lit(1), lit(1))))
      case other => throw new IllegalArgumentException(
        s"calendar unit: $other")
    }
  }

  /** Bucket end for a batch calendar window's scalar start column —
    * used by the aggregation module's END_OF_WINDOW timestamp
    * combiner, where the grouped column carries only the bucket
    * start. Re-derives the same bounds the grouping used (anchored
    * N-unit or plain date_trunc buckets). */
  def calendarEndOf(strategy: JsonNode, startCol: Column): Column = {
    val w = strategy("window").getOrElse(strategy)
    val tz = w.str("timezone").getOrElse("UTC")
    val unit = w.str("unit").getOrElse("day")
    val size = w.int("size").filter(_ > 0).getOrElse(1)
    val anchorOpt = w.str("startDate")
    val weekOff = if (unit == "week") w.int("offset").getOrElse(0) else 0
    if (size != 1 || anchorOpt.isDefined || weekOff != 0)
      calNBounds(startCol, unit, size,
        anchorOpt.getOrElse("1970-01-01"), weekOff, tz)._2
    else calendarBucketEnd(startCol, unit.toUpperCase, tz)
  }

  /** Per-element retention horizon for the exact-pane element store:
    * an epoch-second upper bound — exact for calendar buckets — on
    * the END of the latest window that can contain the element. Once
    * the event-time frontier plus allowedLateness passes this
    * horizon the element can never feed another pane (the same rule
    * the pane engine's post-aggregation retention filter applies),
    * so the store drops its partition by path. The horizon must be
    * DISCRETE (it becomes a partition directory name — a raw
    * `t + size` would mint one tiny partition per element): for
    * fixed/sliding it is the exact end of the LATEST window
    * containing t (`off + floor((t-off)/period)·period + size`, the
    * window grid's own granularity; a fixed window's period is its
    * size — [[windowGroup]] ignores a `period` key on it, so this
    * must too), for calendar the bucket end. None for global windows
    * (a global cumulative pane needs all history by definition);
    * sessions never reach the exact-pane engine (it rejects them
    * loudly). */
  def elementRetainEnd(strategy: JsonNode): Option[DataFrame => Column] = {
    val w = strategy("window").getOrElse(strategy)
    def atEvent(end: Column => Column): DataFrame => Column =
      df => eventTimeCol(df, strategy) match {
        case Some(t) => end(t)
        case None => lit(null).cast("long")
      }
    def gridEnd(size: Long, period: Long, off: Long) = atEvent(t =>
      floor((t.cast("long") - lit(off)).cast("double") /
        lit(period)).cast("long") * lit(period) + lit(off + size))
    w.str("type").getOrElse("global") match {
      case wt @ ("fixed" | "sliding") =>
        seconds(w, "size").filter(_ > 0).map { size =>
          val period =
            if (wt == "fixed") size
            else seconds(w, "period").filter(_ > 0).getOrElse(size)
          gridEnd(size, period, seconds(w, "offset").getOrElse(0L))
        }
      case "calendar" =>
        // the streaming grouping's own end: its fixed grid when it
        // has one, else calendarEndOf, which derives the bucket
        // CONTAINING its argument (the raw event time works directly)
        Some(fixedCalendarGrid(w) match {
          case Some((span, off)) => gridEnd(span, span, off)
          case None => atEvent(calendarEndOf(strategy, _).cast("long"))
        })
      case _ => None
    }
  }

  /** Window-end grid of [[elementRetainEnd]]'s horizon as
    * (periodSeconds, k): an element with horizon h feeds exactly the
    * k window ends {h − j·period : 0 ≤ j < k} (a half-open interval
    * of length k·period holds exactly k grid points, the largest
    * being h). Fixed windows and calendar buckets give k = 1 — the
    * horizon IS the element's one window end, and the period is
    * never read; sliding windows with size = k·period give
    * (period, k). The pane engine derives closing candidates from the
    * store's horizon partitions with it and prunes its
    * re-aggregation to the fired ends' contributing partitions. None
    * for global and session windows, and for sliding windows whose
    * size is not a period multiple (the end-set size then varies per
    * element and an arithmetic candidate could name a window no
    * element feeds — the engine keeps the full-read path). */
  def endGrid(strategy: JsonNode): Option[(Long, Int)] = {
    val w = strategy("window").getOrElse(strategy)
    w.str("type").getOrElse("global") match {
      case "fixed" => seconds(w, "size").filter(_ > 0).map(s => (s, 1))
      case "calendar" => Some((0L, 1))
      case "sliding" => for {
          size <- seconds(w, "size").filter(_ > 0)
          period <- seconds(w, "period").filter(_ > 0)
          if size % period == 0
        } yield (period, (size / period).toInt)
      case _ => None
    }
  }

  /** UTC instant of the END of `ts`'s local calendar bucket:
    * date_trunc in the zone, plus one bucket, mapped back to UTC.
    * Interval addition happens in LOCAL wall time (that is the
    * definition of a calendar bucket), so "+1 MONTH" lands on the
    * next month's first midnight regardless of month length or DST. */
  private def calendarBucketEnd(ts: Column, truncUnit: String,
      tz: String): Column = {
    val localStart = date_trunc(truncUnit, from_utc_timestamp(ts, tz))
    val localEnd = truncUnit match {
      case "DAY" => localStart + expr("INTERVAL 1 DAY")
      case "WEEK" => localStart + expr("INTERVAL 7 DAY")
      case "MONTH" => localStart + expr("INTERVAL 1 MONTH")
      case "YEAR" => localStart + expr("INTERVAL 1 YEAR")
    }
    to_utc_timestamp(localEnd, tz)
  }

  private val windowKeys = Set("type", "size", "period", "gap",
    "offset", "unit", "timezone", "startDate", "allowedLateness")
  private val strategyKeys = windowKeys ++ Set("window", "trigger",
    "mode", "timestampField", "timestampCombiner", "exactPanes")
  private val triggerKeys = Set("type", "pastFirstElementDelay",
    "pastFirstElementDelayUnit", "delay", "unit", "earlyFiringTrigger",
    "lateFiringTrigger", "finalTrigger", "foreverTrigger",
    "childrenTriggers", "elementCountAtLeast", "countField")

  /** One loud stderr line per unknown strategy key: a typo'd
    * `startDae` or `allowedlateness` otherwise silently produces
    * default windows with plausible numbers (the reference's Gson
    * parsing drops unknown fields just as silently — this engine
    * prefers to warn). Nested window/trigger blocks validate against
    * their own key sets; trigger children recurse. */
  def warnUnknownKeys(strategy: JsonNode, module: String): Unit = {
    def warn(where: String, bad: Seq[String], valid: Set[String]): Unit =
      if (bad.nonEmpty) System.err.println(
        s"[graft] WARNING: $module $where ignores unknown key(s) " +
          s"${bad.mkString(", ")} (known: " +
          s"${valid.toSeq.sorted.mkString(", ")})")
    warn("strategy", strategy.names.filterNot(strategyKeys), strategyKeys)
    strategy("window").foreach(w =>
      warn("strategy.window", w.names.filterNot(windowKeys), windowKeys))
    def checkTrigger(t: JsonNode, where: String): Unit = {
      warn(where, t.names.filterNot(triggerKeys), triggerKeys)
      Seq("earlyFiringTrigger", "lateFiringTrigger", "finalTrigger",
        "foreverTrigger").foreach(k =>
        t(k).foreach(checkTrigger(_, s"$where.$k")))
      t.arrOf("childrenTriggers").zipWithIndex.foreach { case (c, i) =>
        checkTrigger(c, s"$where.childrenTriggers[$i]") }
    }
    strategy("trigger").foreach(checkTrigger(_, "strategy.trigger"))
  }

  /** `allowedLateness` in seconds from a strategy node — on the
    * window sub-node (reference Strategy.java nests it there) or the
    * strategy root. Shared by the watermark and by the pane
    * engines' window expiry, both reading the aggregation's own
    * strategy. */
  def allowedLatenessSeconds(strategy: JsonNode): Option[Long] =
    strategy("window").flatMap(w => seconds(w, "allowedLateness"))
      .orElse(seconds(strategy, "allowedLateness"))

  /** Apply watermark from `allowedLateness` when the input streams.
    * Parquet timestamps usually surface as TIMESTAMP_NTZ, which
    * `withWatermark` rejects — cast to TimestampType first (session
    * tz is UTC, so the instant is unchanged). */
  def applyWatermark(df: DataFrame, strategy: JsonNode,
      tsField: String): DataFrame =
    if (!df.isStreaming) df
    else {
      val lateness = allowedLatenessSeconds(strategy).getOrElse(0L)
      val cast =
        if (df.schema.fields.exists(f => f.name == tsField &&
            f.dataType != TimestampType))
          df.withColumn(tsField, toTimestamp(df, tsField))
        else df
      cast.withWatermark(tsField, dur(math.max(lateness, 1)))
    }
}
