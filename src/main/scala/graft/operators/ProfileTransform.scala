package graft.operators

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `profile` transform — one-pass column profiling for data-quality
  * gates over curation pipelines (parity-plus: the reference's
  * `compare` diffs two frames; the pipeline-level need before
  * training is profiling ONE frame — null rates, cardinalities,
  * ranges, moments — to assert corpus health and catch schema drift).
  *
  * Output: one row per profiled column — `column`, `n` (frame rows),
  * `nulls`, `distincts`, `min_s`/`max_s` (string-rendered bounds),
  * `mean`/`std` (sample stddev; null for non-numerics). Profiled
  * columns default to every ATOMIC column (arrays/maps/structs are
  * skipped — they have no total order); narrow with `fields`.
  *
  * `percentiles: [0.5, 0.95]` adds one `p50`/`p95`/... column per
  * fraction (null for non-numerics), computed from a KLL sketch per
  * numeric column IN THE SAME single pass — fixed-size mergeable
  * state, so the pass stays one narrow shuffle at any scale. `kllK`
  * (default 2048) sizes the sketches: quantiles are EXACT while the
  * non-null count stays ≤ kllK, and carry the published ~1.65/√k
  * normalized rank error beyond.
  *
  * Scale shape: ONE aggregation pass over the frame; the single
  * result row collects driver-side (bounded: one value per stat per
  * column) and melts into per-column rows. Exact `distincts` is the
  * default at gate scale but costs one Expand per column at 100 TB —
  * set `approx: true` to swap in approx_count_distinct (HLL, one
  * pass, no Expand), the same exact/approx twin pattern as the
  * aggregation module's count_distinct. */
object ProfileTransform {

  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val raw = TransformCommon.single(cfg, inputs)
    val p = cfg.params
    // the per-column stats pass runs in the SCAN stage — a one-split
    // input serializes it onto a single task (r21: q112 spent its
    // 3.4 s in one-core partial aggregation). Widen ONLY the exact
    // profile: its per-column count_distinct is the Expand-heavy op
    // that needs map parallelism. The approx profile's buffers (HLL
    // distincts, KLL percentiles) are fixed-size partials that LOSE
    // to the added exchange — the same measured rule as
    // AggregationTransform's op-conditioned widen (r21 A/B: kll
    // 0.68→1.51 s, hll 0.47→0.99 s widened). Drift keeps the widen:
    // its per-row bucket programs are the heavy path there. widen is
    // stats-probed and a no-op for streams and wide inputs.
    val approxProfile = p.bool("approx").getOrElse(false) &&
      p.str("baselineInput").isEmpty
    val df =
      if (approxProfile) raw
      else TransformCommon.widen(raw)
    // the ONE streaming profile shape: the drift monitor — static
    // baseline, streaming current side, per-event-time-window PSI
    if (df.isStreaming && p.str("baselineInput").isDefined)
      return driftStream(spark, cfg, inputs, df)
    require(!df.isStreaming,
      s"profile ${cfg.name}: profiling is a batch action (a stream " +
        "has no final statistics) — profile a windowed aggregate " +
        "instead, or add baselineInput + a strategy window for the " +
        "STREAMING drift monitor (per-window PSI vs a static baseline)")
    if (p.str("baselineInput").isDefined)
      return drift(spark, cfg, inputs, df)
    def atomic(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }
    val declared = p.strArr("fields")
    declared.foreach(f => require(df.columns.contains(f),
      s"profile ${cfg.name}: field $f not in input " +
        s"(${df.columns.mkString(", ")})"))
    val cols =
      if (declared.nonEmpty) {
        declared.foreach(f => require(atomic(df.schema(f).dataType),
          s"profile ${cfg.name}: $f is non-atomic " +
            s"(${df.schema(f).dataType.simpleString}) — no total order"))
        declared
      } else df.schema.fields.filter(f => atomic(f.dataType))
        .map(_.name).toSeq
    require(cols.nonEmpty, s"profile ${cfg.name}: no atomic columns")
    val approx = p.bool("approx").getOrElse(false)
    val fractions = p.arrOf("percentiles").map(_.asDouble)
    fractions.foreach(f => require(f > 0.0 && f < 1.0,
      s"profile ${cfg.name}: percentile $f out of (0, 1)"))
    // duplicate fractions (e.g. [0.5, 0.50]) would emit duplicate
    // output column names — an ambiguous frame that breaks only at
    // downstream select time; fail here with the offenders named
    require(fractions.distinct.size == fractions.size,
      s"profile ${cfg.name}: duplicate percentiles " +
        fractions.groupBy(identity).collect {
          case (v, vs) if vs.size > 1 => v }.mkString("[", ", ", "]"))
    val kllK = p.int("kllK").getOrElse(2048)
    def numeric(n: String): Boolean =
      df.schema(n).dataType.isInstanceOf[NumericType]
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
        val base = Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
          (if (approx) approx_count_distinct(col(c))
           else count_distinct(col(c))).as(s"__d_$c"),
          min(col(c)).cast(StringType).as(s"__min_$c"),
          max(col(c)).cast(StringType).as(s"__max_$c"))
        if (numeric(c)) base ++ Seq(
          avg(col(c).cast(DoubleType)).as(s"__mean_$c"),
          stddev(col(c).cast(DoubleType)).as(s"__std_$c")) ++
          (if (fractions.nonEmpty)
            Seq(graft.functions.KllFunctions.kllSketch(kllK,
              col(c).cast(DoubleType)).as(s"__kll_$c"))
          else Nil)
        else base
      }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // decode the per-column quantiles from the one collected stat row
    // (driver-side: one bounded binary sketch per numeric column)
    def quantiles(c: String): Seq[java.lang.Double] = {
      val qs =
        if (!numeric(c) || fractions.isEmpty) None
        else graft.functions.KllFunctions.quantilesAt(
          r.getAs[Array[Byte]](s"__kll_$c"), fractions)
      qs.map(_.map(java.lang.Double.valueOf))
        .getOrElse(fractions.map(_ => null: java.lang.Double))
    }
    def opt[T](name: String): Option[T] = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    }
    val n = r.getAs[Long]("__n")
    val rows = cols.map { c =>
      Row.fromSeq(Seq(c, n,
        r.getAs[Long](s"__nulls_$c"),
        r.getAs[Long](s"__d_$c"),
        opt[String](s"__min_$c").orNull,
        opt[String](s"__max_$c").orNull,
        if (numeric(c)) opt[Double](s"__mean_$c")
          .map(java.lang.Double.valueOf).orNull
        else null,
        if (numeric(c)) opt[Double](s"__std_$c")
          .map(java.lang.Double.valueOf).orNull
        else null) ++ quantiles(c))
    }
    // p50, p95, p99_9 — percent value with "." → "_"
    // decimal-string arithmetic: 0.95 * 100 in doubles is
    // 94.99999999999999, which would name the column p94_9...9
    def pName(f: Double): String = "p" + (BigDecimal(f.toString) * 100)
      .underlying.stripTrailingZeros.toPlainString.replace(".", "_")
    val schema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("nulls", LongType, nullable = false),
      StructField("distincts", LongType, nullable = false),
      StructField("min_s", StringType),
      StructField("max_s", StringType),
      StructField("mean", DoubleType),
      StructField("std", DoubleType)) ++
      fractions.map(f => StructField(pName(f), DoubleType)))
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    TransformCommon.finishRouted(out, cfg)
  }

  /** DRIFT profile (`baselineInput`): per-column distribution drift
    * between a baseline snapshot and the current frame — the
    * before-training corpus-drift gate ("did this month's crawl
    * shift?"). Per profiled column: row/null counts and null-rate
    * delta on both sides, plus PSI (population stability index) —
    * for numeric columns over `psiBuckets` (default 10) equi-width
    * buckets anchored on the BASELINE's [min, max] (out-of-range
    * current values clamp into the edge buckets, so new mass
    * outside the baseline's support registers as drift instead of
    * vanishing), for categorical columns over the baseline's top
    * `psiCategories` (default 20) values (count desc, value asc —
    * a total order) plus one other-bucket that both bounds the
    * histogram under unbounded vocabularies and catches NEW
    * categories. Numeric columns additionally report the mean
    * delta. Proportions are Laplace-smoothed
    * ((count + 0.5) / (n + 0.5·B)) so empty buckets stay finite;
    * the usual reading is psi < 0.1 stable, 0.1–0.25 moderate,
    * > 0.25 shifted.
    *
    * Scale shape: the baseline runs two aggregation passes
    * (moments+edges, then the bucket histogram — the histogram needs
    * the baseline edges first) whose rows collect driver-side
    * (bounded: B longs per numeric column); the current side is ONE
    * lazy narrow aggregate with fixed-size state (moments plus B
    * conditional sums per column) projected through the streaming
    * monitor's Column program ([[driftRows]]). Nothing row-shaped
    * ever shuffles. */
  private def drift(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame], cur: DataFrame)
      : Map[String, DataFrame] = {
    val prep = driftPrep(cfg, inputs, cur)
    val aggCols = prep.momentAggs ++ prep.histAggs
    TransformCommon.finishRouted(
      driftRows(prep, cur.agg(aggCols.head, aggCols.tail: _*), Nil), cfg)
  }

  /** STREAMING drift monitor: the drift read with the CURRENT side
    * unbounded — "alert when the live distribution walks away from
    * the training baseline", the production-ML shape of q170. The
    * baseline is static (its moments/edges/top-K categories compute
    * once, exactly like the batch read, and become literals); the
    * stream then runs ONE windowed streaming aggregate carrying the
    * same fixed-size conditional sums (count, per-column null sums,
    * per-numeric means, B bucket counts per column), watermark-
    * bounded and append-mode — per-window state is a fixed vector of
    * longs regardless of stream volume, the 100 TB monitor shape.
    * PSI folds AFTER the aggregate as a plain Column expression over
    * the emitted histogram columns against the baseline's literal
    * proportions (no second stateful operator, no driver action per
    * window). Output: one row per (window, column) with the batch
    * drift schema plus window_start/window_end. */
  private def driftStream(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame], cur: DataFrame)
      : Map[String, DataFrame] = {
    val strategy = cfg.node("strategy").getOrElse(
      throw new IllegalArgumentException(
        s"profile ${cfg.name}: the streaming drift monitor needs a " +
          "strategy with timestampField (and allowedLateness) plus " +
          "a window — per-window histograms are what bound the state"))
    graft.streaming.Strategy.warnUnknownKeys(strategy, cfg.name)
    val ts = strategy.str("timestampField").getOrElse(
      throw new IllegalArgumentException(
        s"profile ${cfg.name}: streaming drift needs " +
          "strategy.timestampField to anchor its windows"))
    // NOT knob-ed like the streaming dedup paths (r22 measured
    // decline): sized state stores plus a pre-state widen mirroring
    // the dedup gates moved the drift gates nothing (paired min-of-3
    // 5.85/5.89 → 5.70/6.13 s) — the monitor's per-window state is a
    // fixed vector of longs over a handful of windows, so its drain
    // cost is micro-batch choreography (sentinel staging + the
    // watermark-advancing no-data batch), not state-store commits.
    val wm = graft.streaming.Strategy.applyWatermark(cur, strategy, ts)
    val gw = graft.streaming.Strategy
      .windowGroup(strategy, col(ts), streaming = true)
      .getOrElse(throw new IllegalArgumentException(
        s"profile ${cfg.name}: streaming drift needs a non-global " +
          "strategy window (fixed/sliding/calendar) — a global " +
          "profile over a stream never finishes"))
    val prep = driftPrep(cfg, inputs, wm)
    import prep._
    val aggCols = momentAggs ++ histAggs
    val agged = gw.post(
      wm.groupBy(gw.column.as("window"))
        .agg(aggCols.head, aggCols.tail: _*))
    val out = driftRows(prep,
      agged.select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("*")),
      Seq("window_start", "window_end"))
    TransformCommon.finishRouted(out, cfg)
  }

  /** The drift rows of each row of `agged` — the current side's
    * moment and histogram aggregates ([[DriftPrep]]) — one per
    * profiled column in [[driftSchema]] shape, after the `lead`
    * columns carried through. The PSI fold is a Column program:
    * q_i from the emitted counts, p_i the baseline's proportions baked
    * in as literals, Laplace-smoothed; null when the baseline or the
    * current side has no in-support rows for the column. Shared by
    * the batch drift read (one global aggregate row) and the
    * streaming monitor (one row per window). */
  private def driftRows(prep: DriftPrep, agged: DataFrame,
      lead: Seq[String]): DataFrame = {
    import prep._
    val nB = bRow.getAs[Long]("__n")
    // baseline literal proportions per column (empty → psi null:
    // all-null baseline column or zero-row baseline)
    def baseP(c: String): Seq[Double] = {
      val cb = counts(bHist, c)
      val nb = cb.sum.toDouble
      if (cb.isEmpty || nb == 0) Seq.empty
      else cb.map(x => (x + 0.5) / (nb + 0.5 * cb.length))
    }
    val nullD = lit(null).cast(DoubleType)
    val structs = cols.map { c =>
      val nulB = bRow.getAs[Long](s"__nulls_$c")
      val isNum = numCols.contains(c)
      val meanB = if (isNum) optD(bRow, s"__mean_$c") else None
      val nCur = col("__n")
      // an empty frame's global aggregate sums to null
      val nullsCur = coalesce(col(s"__nulls_$c"), lit(0L))
      val nullFracDelta =
        if (nB == 0) nullD
        else when(nCur > 0, nullsCur.cast(DoubleType) / nCur
          - lit(nulB.toDouble / nB)).otherwise(nullD)
      val meanCur = if (isNum) col(s"__mean_$c") else nullD
      val meanDelta = meanB.map(mb => meanCur - lit(mb)).getOrElse(nullD)
      val ps = baseP(c)
      val psiExpr =
        if (ps.isEmpty) nullD
        else {
          val b = ps.length
          val hs = (0 until b).map(i => col(s"__h${i}_$c"))
          val nc = hs.reduce(_ + _).cast(DoubleType)
          val terms = ps.zipWithIndex.map { case (pi, i) =>
            val qi = (hs(i).cast(DoubleType) + lit(0.5)) /
              (nc + lit(0.5 * b))
            (qi - lit(pi)) * log(qi / lit(pi))
          }
          when(nc > 0, terms.reduce(_ + _)).otherwise(nullD)
        }
      struct(lit(c).as("column"), lit(nB).as("n_base"),
        nCur.as("n_cur"), lit(nulB).as("nulls_base"),
        nullsCur.as("nulls_cur"),
        nullFracDelta.as("null_frac_delta"),
        meanB.map(lit(_)).getOrElse(nullD).as("mean_base"),
        meanCur.as("mean_cur"), meanDelta.as("mean_delta"),
        psiExpr.as("psi"))
    }
    agged.select(lead.map(col) :+
        explode(array(structs: _*)).as("__d"): _*)
      .select(lead.map(col) ++
        driftSchema.fieldNames.map(f => col(s"__d.$f")): _*)
  }

  private val driftSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("n_base", LongType, nullable = false),
    StructField("n_cur", LongType, nullable = false),
    StructField("nulls_base", LongType, nullable = false),
    StructField("nulls_cur", LongType, nullable = false),
    StructField("null_frac_delta", DoubleType),
    StructField("mean_base", DoubleType),
    StructField("mean_cur", DoubleType),
    StructField("mean_delta", DoubleType),
    StructField("psi", DoubleType)))

  private def optD(r: Row, name: String): Option[Double] = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  /** Baseline-side preparation shared by the batch drift read and
    * the streaming drift monitor: input validation, bucket design
    * (baseline equi-width edges / KLL quantile edges / categorical
    * top-K), the baseline moments+histogram ROWS (computed here —
    * the baseline is always bounded), and the CURRENT side's
    * aggregate EXPRESSIONS, which the batch read runs as one global
    * aggregate and the streaming monitor as one windowed streaming
    * aggregate. */
  private final case class DriftPrep(
      cols: Seq[String], numCols: Seq[String],
      catsOf: Map[String, Seq[String]], buckets: Int,
      histCols: Seq[String],
      momentAggs: Seq[org.apache.spark.sql.Column],
      histAggs: Seq[org.apache.spark.sql.Column],
      bRow: Row, bHist: Option[Row]) {
    def bucketsOf(c: String): Int =
      if (numCols.contains(c)) buckets else catsOf(c).size + 1
    /** histogram counts of a pass-2 row for column c — empty when
      * the column has no histogram (all-null baseline) → psi null */
    def counts(r: Option[Row], c: String): Seq[Long] =
      if (numCols.contains(c) && !histCols.contains(c)) Seq.empty
      else r.map(row => (0 until bucketsOf(c)).map(i =>
        row.getAs[Long](s"__h${i}_$c"))).getOrElse(Seq.empty)
  }

  private def driftPrep(cfg: ModuleCfg,
      inputs: Map[String, DataFrame], cur: DataFrame): DriftPrep = {
    val p = cfg.params
    val bn = p.str("baselineInput").get
    require(cfg.inputs.contains(bn),
      s"profile ${cfg.name}: baselineInput $bn must be listed in " +
        s"inputs (${cfg.inputs.mkString(", ")})")
    require(cfg.inputs.head != bn,
      s"profile ${cfg.name}: baselineInput is the FIRST input — " +
        "name a different input as the baseline")
    val base = inputs(bn)
    require(!base.isStreaming,
      s"profile ${cfg.name}: the drift BASELINE must be bounded " +
        "(batch) — its moments and bucket edges anchor the compare")
    def atomic(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }
    val declared = p.strArr("fields")
    declared.foreach { f =>
      require(cur.columns.contains(f) && base.columns.contains(f),
        s"profile ${cfg.name}: field $f not in both inputs")
      require(atomic(cur.schema(f).dataType) &&
        atomic(base.schema(f).dataType),
        s"profile ${cfg.name}: $f is non-atomic — no drift order")
    }
    val cols =
      if (declared.nonEmpty) declared
      else cur.schema.fields.filter(f => atomic(f.dataType))
        .map(_.name).filter(base.columns.contains).toSeq
    require(cols.nonEmpty,
      s"profile ${cfg.name}: no shared atomic columns to drift-check")
    val buckets = p.int("psiBuckets").getOrElse(10)
    require(buckets >= 2 && buckets <= 1000,
      s"profile ${cfg.name}: psiBuckets must be in [2, 1000]")
    // approx: true swaps the numeric bucketing from equi-width
    // [min, max] buckets to BASELINE QUANTILE buckets read off a KLL
    // sketch (one extra aggregate in the same baseline pass,
    // fixed-size mergeable state). This is the 100 TB shape twice
    // over: the sketch is shard-mergeable (a persisted per-shard
    // sketch family can stand in for rescanning the baseline), and
    // quantile buckets are robust to heavy tails (one outlier
    // stretches an equi-width grid until all mass lands in one
    // bucket; quantile edges keep every bucket populated). Exact
    // while the baseline column has ≤ kllK values (the sketch
    // retains everything), published ~1.65/√k rank error past it.
    val approxPsi = p.bool("approx").getOrElse(false)
    val kllK = p.int("kllK").getOrElse(200)
    require(kllK >= 8 && kllK <= 65535,
      s"profile ${cfg.name}: kllK must be in [8, 65535]")
    def numeric(df: DataFrame, c: String): Boolean =
      df.schema(c).dataType.isInstanceOf[NumericType]
    val numCols = cols.filter(c => numeric(cur, c) && numeric(base, c))
    // categorical psi: non-numeric columns bucket by the baseline's
    // top-`psiCategories` values (count desc, value asc — a total
    // order) plus one "other" bucket for everything else, so an
    // unbounded vocabulary still yields a fixed-size histogram and
    // NEW categories register as drift in the other-bucket
    val catK = p.int("psiCategories").getOrElse(20)
    require(catK >= 1 && catK <= 10000,
      s"profile ${cfg.name}: psiCategories must be in [1, 10000]")
    val catCols = cols.filterNot(numCols.contains)
    val catsOf: Map[String, Seq[String]] =
      if (catCols.nonEmpty && approxPsi) {
        // approx: ONE frequent-items pass for ALL categorical
        // columns (Spark's approx_top_k — SpaceSaving-style
        // fixed-size state, exact within maxItemsTracked) instead of
        // a vocabulary-sized groupBy per column — under an unbounded
        // vocabulary at 100 TB the sketch is the only fixed-state
        // way to pick the baseline buckets. Re-sorted (count desc,
        // value asc) for the exact twin's deterministic bucket
        // indexing; ties AT the top-K boundary follow the sketch's
        // selection (identical in the exact regime when the
        // vocabulary fits in K).
        val maxTracked = p.int("maxItemsTracked").getOrElse(10000)
        val aggs = catCols.map(c => call_function("approx_top_k",
          col(c).cast(StringType), lit(catK), lit(maxTracked))
          .as(s"__tk_$c"))
        val row = base.agg(aggs.head, aggs.tail: _*).head()
        catCols.map { c =>
          c -> row.getSeq[Row](row.fieldIndex(s"__tk_$c"))
            .map(r => (r.getAs[String]("item"), r.getAs[Long]("count")))
            .sortBy { case (v, n) => (-n, v) }
            .map(_._1).toSeq
        }.toMap
      } else catCols.map { c =>
        // exact: one vocabulary-sized groupBy per categorical
        // column; the collected top-K is bounded by psiCategories
        c -> base.filter(col(c).isNotNull)
          .groupBy(col(c).cast(StringType).as("__v"))
          .agg(count(lit(1)).as("__c"))
          .orderBy(col("__c").desc, col("__v").asc)
          .limit(catK)
          .collect().map(_.getString(0)).toSeq
      }.toMap

    // pass 1 aggregate expressions: counts, null counts, mean,
    // min/max edges (plus, under approx, one KLL sketch per numeric
    // column on the BASELINE side only — same single pass,
    // fixed-size state)
    def momentAggsOf(withSketches: Boolean) =
      Seq(count(lit(1)).as("__n")) ++ cols.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
        numCols.flatMap { c =>
          val v = col(c).cast(DoubleType)
          Seq(avg(v).as(s"__mean_$c"),
            min(v).as(s"__min_$c"), max(v).as(s"__max_$c"))
        } ++ (if (!withSketches) Nil else numCols.map { c =>
          val v = col(c).cast(DoubleType)
          graft.functions.KllFunctions
            .kllSketch(kllK, when(!isnan(v), v)).as(s"__kll_$c")
        })
    val bAggs = momentAggsOf(approxPsi)
    val bRow = base.agg(bAggs.head, bAggs.tail: _*).head()
    // baseline-anchored bucket edges; a column that is all-null (no
    // edges) or constant-support gets the degenerate two-sided
    // bucketing (== min → bucket 0, else the top bucket)
    val edges: Map[String, (Double, Double)] = numCols.flatMap { c =>
      for (mn <- optD(bRow, s"__min_$c"); mx <- optD(bRow, s"__max_$c"))
        yield c -> (mn, mx)
    }.toMap
    // approx: baseline quantile edges at i/B, i = 1..B-1 — bucket(v)
    // = |{edges e : v > e}|, a total assignment with no clamping
    // (duplicate edges under skew just leave buckets empty, which
    // the Laplace smoothing keeps finite)
    val qEdges: Map[String, Seq[Double]] =
      if (!approxPsi) Map.empty
      else numCols.flatMap { c =>
        graft.functions.KllFunctions
          .quantilesAt(bRow.getAs[Array[Byte]](s"__kll_$c"),
            (1 until buckets).map(_.toDouble / buckets))
          .map(c -> _)
      }.toMap
    val histCols =
      if (approxPsi) numCols.filter(qEdges.contains)
      else numCols.filter(edges.contains)

    // pass 2 aggregate expressions: fixed conditional sums per column
    val numAggs = histCols.flatMap { c =>
      val v = col(c).cast(DoubleType)
      val b =
        if (approxPsi)
          qEdges(c).foldLeft(lit(0L): org.apache.spark.sql.Column) {
            (acc, e) => acc + when(v > lit(e), 1L).otherwise(0L)
          }
        else {
          val (mn, mx) = edges(c)
          if (mx > mn)
            least(greatest(
              floor((v - lit(mn)) / lit(mx - mn) * lit(buckets)),
              lit(0L)), lit(buckets - 1L))
          else when(v === lit(mn), lit(0L))
            .otherwise(lit(buckets - 1L))
        }
      (0 until buckets).map(i => sum(
        when(v.isNotNull && !isnan(v) && b === lit(i.toLong), 1L)
          .otherwise(0L)).as(s"__h${i}_$c"))
    }
    val catAggs = catCols.flatMap { c =>
      val cats = catsOf(c)
      val v = col(c).cast(StringType)
      val inCats =
        if (cats.isEmpty) lit(false) else v.isin(cats: _*)
      cats.zipWithIndex.map { case (cat, i) =>
        sum(when(v === lit(cat), 1L).otherwise(0L))
          .as(s"__h${i}_$c")
      } :+ sum(when(v.isNotNull && !inCats, 1L).otherwise(0L))
        .as(s"__h${cats.size}_$c")
    }
    val histAggsSeq = numAggs ++ catAggs
    val bHist =
      if (histAggsSeq.isEmpty) None
      else Some(base.agg(histAggsSeq.head, histAggsSeq.tail: _*).head())
    DriftPrep(cols, numCols, catsOf, buckets, histCols,
      momentAggsOf(withSketches = false), histAggsSeq, bRow, bHist)
  }
}
