package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Anchored N-unit calendar windows (reference CalendarWindows
  * size/startDate via Strategy.java:195-215) and the
  * timestampCombiner output stamp (Strategy.java:72-73). */
class CalendarAnchorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def winCol(strategyJson: String,
      df: org.apache.spark.sql.DataFrame) =
    graft.streaming.Strategy.windowGroup(
      graft.config.Json.parse(strategyJson),
      graft.streaming.Strategy.toTimestamp(df, "ts")).map(_.column).get

  private def evDf = {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.select(graft.streaming.Strategy.toTimestamp(df, "ts").as("ts"))
  }

  test("3-day windows anchored 2024-01-05 bucket by floor division") {
    val ev = evDf
    val got = ev.select(winCol(
      """{"window": {"type": "calendar", "unit": "day", "size": 3,
          "startDate": "2024-01-05"}}""", ev).as("w"), col("ts"))
    // oracle: floor(days-from-anchor / 3) arithmetic on dates
    val exp = ev.select(col("ts"),
      to_utc_timestamp(date_add(lit("2024-01-05").cast("date"),
        (floor(datediff(to_date(col("ts")),
          lit("2024-01-05").cast("date")).cast("double") / 3)
          .cast("int") * 3)).cast("timestamp"), "UTC").as("w"))
    val mismatches = got.select(col("ts"), col("w"))
      .join(exp.withColumnRenamed("w", "we"), Seq("ts"))
      .filter(col("w") =!= col("we")).count()
    assert(mismatches == 0)
    // events span Jan 1-30 2024 → starts include the pre-anchor
    // bucket 2024-01-02 (negative index) and the anchor itself
    val starts = got.select(date_format(col("w"), "yyyy-MM-dd"))
      .distinct().as[String].collect().toSet
    assert(starts.contains("2024-01-02"), s"pre-anchor bucket: $starts")
    assert(starts.contains("2024-01-05"))
    assert(starts.forall(s => math.floorMod(
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse("2024-01-05"),
        java.time.LocalDate.parse(s)), 3) == 0))
  }

  test("2-month windows anchored 2023-12 put all of January in one bucket") {
    val ev = evDf
    val got = ev.select(winCol(
      """{"window": {"type": "calendar", "unit": "month", "size": 2,
          "startDate": "2023-12-15"}}""", ev).as("w"))
      .distinct().as[java.sql.Timestamp].collect().toSeq
    // startDate's day-of-month is dropped (withStartingMonth):
    // buckets are [2023-12-01, 2024-02-01) — every event lands in one
    assert(got.map(_.toString) == Seq("2023-12-01 00:00:00.0"))
  }

  test("week offset shifts the anchor day (Beam startDayOfWeek)") {
    val ev = evDf
    val got = ev.select(winCol(
      """{"window": {"type": "calendar", "unit": "week",
          "offset": 2}}""", ev).as("w"))
      .distinct().select(date_format(col("w"), "E")).as[String]
      .collect().toSet
    // 1970-01-01 (Thursday) + 2 days = Saturday-anchored weeks
    assert(got == Set("Sat"))
  }

  test("1-year windows anchored 2023 span [2023-01-01, 2024-01-01) etc.") {
    val rows = Seq("2023-06-01 00:00:00", "2024-03-01 00:00:00",
      "2022-12-31 23:59:59").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    val got = rows.select(winCol(
      """{"window": {"type": "calendar", "unit": "year",
          "startDate": "2023-01-01"}}""", rows).as("w"), col("ts"))
      .orderBy("ts")
      .select(date_format(col("w"), "yyyy-MM-dd")).as[String]
      .collect().toSeq
    assert(got == Seq("2022-01-01", "2023-01-01", "2024-01-01"))
  }

  test("streaming 3-day anchored windows (UTC fixed-window path) match batch") {
    val in = java.nio.file.Files.createTempDirectory("graft-cal3-in")
    val out = java.nio.file.Files.createTempDirectory("graft-cal3-out")
      .resolve("w")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(in.toString)
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: "$in", format: parquet, stream: true}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      window: {type: calendar, unit: day, size: 3, startDate: "2024-01-05"}
      |    parameters:
      |      groupFields: [event_type]
      |      aggregations:
      |        - input: ev
      |          fields: [{name: n, op: count}]
      |sinks:
      |  - name: snk
      |    module: storage
      |    inputs: [agg]
      |    parameters: {path: "$out", format: parquet,
      |                 checkpointLocation: "$in-ckpt"}
      |""".stripMargin)
    graft.streaming.StreamRunner.drainAll()
    Thread.sleep(2000)
    graft.streaming.StreamRunner.drainAll()
    graft.streaming.StreamRunner.stopAll()
    val got = spark.read.parquet(out.toString)
      .select(col("window.start").cast("timestamp").cast("long")
        .as("w"), col("event_type"), col("n"))
    assert(got.count() > 0, "no windows flushed")
    val ev = spark.read.parquet(in.toString)
    val batch = ev.groupBy(
      to_utc_timestamp(date_add(lit("2024-01-05").cast("date"),
        (floor(datediff(
          to_date(graft.streaming.Strategy.toTimestamp(ev, "ts")),
          lit("2024-01-05").cast("date")).cast("double") / 3)
          .cast("int") * 3)).cast("timestamp"), "UTC")
        .cast("long").as("w"),
      col("event_type")).agg(count(lit(1)).as("n"))
    // append mode flushes every bucket the watermark closed; each
    // flushed (w, event_type, n) must equal the batch bucket exactly
    val joined = got.join(batch.withColumnRenamed("n", "nb"),
      Seq("w", "event_type"), "left")
    assert(joined.filter(col("nb").isNull ||
      col("n") =!= col("nb")).count() == 0)
  }

  test("timestampCombiner stamps __event_time (EARLIEST/LATEST/END_OF_WINDOW)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-comb").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/ev")
    def run(combiner: String) = {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: ev
        |    module: storage
        |    parameters: {path: "$dir/ev"}
        |transforms:
        |  - name: agg
        |    module: aggregation
        |    inputs: [ev]
        |    strategy:
        |      timestampField: ts
        |      timestampCombiner: $combiner
        |      window: {type: fixed, unit: hour, size: 6}
        |    parameters:
        |      groupFields: [event_type]
        |      aggregations:
        |        - input: ev
        |          fields: [{name: n, op: count}]
        |""".stripMargin)("agg")
    }
    val ev0 = spark.read.parquet(s"$dir/ev")
    val ts = graft.streaming.Strategy.toTimestamp(ev0, "ts")
    val truth = ev0.groupBy(
      window(ts, "6 hours").as("window"), col("event_type"))
      .agg(min(ts).as("mn"), max(ts).as("mx"))
    def check(combiner: String, pick: String): Unit = {
      val got = run(combiner)
      assert(got.columns.contains("__event_time"))
      val j = got.join(truth, Seq("window", "event_type"))
      assert(j.filter(col("__event_time") =!= col(pick)).count() == 0,
        s"$combiner mismatch")
    }
    check("EARLIEST", "mn")
    check("LATEST", "mx")
    val eow = run("END_OF_WINDOW")
    assert(eow.filter(col("__event_time") =!=
      col("window.end") - expr("INTERVAL 1 MILLISECOND"))
      .count() == 0)
    // unknown combiner fails actionably
    val e = intercept[IllegalArgumentException](run("MIDDLE").collect())
    assert(e.getMessage.contains("timestampCombiner"))
  }

  test("END_OF_WINDOW works on a scalar calendar window (end re-derived)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-comb-cal").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(s"$dir/ev")
    val got = Pipeline.build(spark, s"""
      |sources:
      |  - name: ev
      |    module: storage
      |    parameters: {path: "$dir/ev"}
      |transforms:
      |  - name: agg
      |    module: aggregation
      |    inputs: [ev]
      |    strategy:
      |      timestampField: ts
      |      timestampCombiner: END_OF_WINDOW
      |      window: {type: calendar, unit: day}
      |    parameters:
      |      groupFields: []
      |      aggregations:
      |        - input: ev
      |          fields: [{name: n, op: count}]
      |""".stripMargin)("agg")
    // scalar day bucket: __event_time = next local midnight − 1 ms
    assert(got.filter(col("__event_time") =!=
      col("window") + expr("INTERVAL 1 DAY")
        - expr("INTERVAL 1 MILLISECOND")).count() == 0)
    assert(got.count() == 30) // events span 30 days
  }
}
