package graft.operators

import com.fasterxml.jackson.databind.JsonNode
import graft.config.Json._
import graft.expr.{ExprCompiler, FilterCompiler}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles one aggregation op config to a Catalyst aggregate Column
  * (reference `util/pipeline/aggregation/AggregateFunction.java:15-29`
  * ops: count/max/min/argmax/argmin/last/first/sum/avg/std/
  * simple_regression/array_agg/any).
  *
  * The reference hand-builds Combine accumulators with explicit
  * partial/merge/extract (`Aggregation.java:115-207`); here every op is
  * a built-in Spark aggregate, so HashAggregateExec does partial
  * (map-side) aggregation and AQE handles hot keys — the `fanout`
  * parameter becomes unnecessary.
  *
  * Uniform per-op parameters (`AggregateFunction.java:60-75`):
  * `field` or `expression` as the value; `condition` filters the rows
  * feeding that aggregate (compiled to `when(cond, v)` so it stays one
  * pass — no per-condition shuffle).
  */
object AggregationCompiler {

  /** `module` ("aggregation <name>", "pivot <name>") prefixes
    * validation errors. */
  def compile(op: JsonNode, schema: StructType,
      module: String): Column = {
    val func = op.str("op").orElse(op.str("func")).getOrElse(
      throw new IllegalArgumentException(s"aggregation op required: $op"))
    val name = op.str("name").getOrElse(func)

    def valueCol: Column = op.str("expression") match {
      case Some(e) =>
        ExprCompiler.toNullable(ExprCompiler.compile(e, schema))
      case None =>
        col(op.str("field").getOrElse(
          throw new IllegalArgumentException(
            s"aggregation $func requires field or expression")))
    }
    // per-op condition → only matching rows feed the aggregate
    def guarded(c: Column): Column = op("condition") match {
      case Some(condNode) =>
        when(FilterCompiler.compile(condNode, schema), c)
      case None => c
    }
    // DataSketches' nominal-entries range: outside it the sketch
    // fails inside a task, so reject it while the plan is built
    def thetaLgK: Int = {
      val lgK = op.int("lgK").getOrElse(12)
      require(lgK >= 4 && lgK <= 26,
        s"$module: $func field '$name' needs lgK in [4, 26], got $lgK")
      lgK
    }
    def eventTime: Column = op.str("orderField").map(col).getOrElse {
      if (schema.fieldNames.contains("__event_time")) col("__event_time")
      else monotonically_increasing_id()
    }

    val agg: Column = func match {
      case "count" =>
        op("condition") match {
          case Some(condNode) =>
            count(when(FilterCompiler.compile(condNode, schema), lit(1)))
          case None => count(lit(1))
        }
      case "sum" => sum(guarded(valueCol))
      case "max" => max(guarded(valueCol))
      case "min" => min(guarded(valueCol))
      case "avg" =>
        (op.str("weightField"), op.str("weightExpression")) match {
          case (None, None) => avg(guarded(valueCol))
          case (wf, we) => // weighted mean (Avg.java:74-79)
            val w = we.map(e => ExprCompiler.toNullable(
                ExprCompiler.compile(e, schema)))
              .getOrElse(col(wf.get)).cast(DoubleType)
            val v = guarded(valueCol.cast(DoubleType))
            sum(v * w) / sum(when(v.isNotNull, w))
        }
      case "std" | "var" =>
        val v = guarded(valueCol.cast(DoubleType))
        val ddof = op.int("ddof").getOrElse(1)
        val isVar = func == "var" || op.bool("outputVar").getOrElse(false)
        val base = (ddof, isVar) match {
          case (1, false) => stddev_samp(v)
          case (0, false) => stddev_pop(v)
          case (1, true) => var_samp(v)
          case (0, true) => var_pop(v)
          case (d, asVar) => // general ddof: n·varPop/(n-d)
            val vv = var_pop(v) * count(v) / (count(v) - lit(d))
            if (asVar) vv else sqrt(vv)
        }
        base
      case "first" => min_by(guarded(fieldsCol(op)), guarded(eventTime))
      case "last" => max_by(guarded(fieldsCol(op)), guarded(eventTime))
      case "argmax" => max_by(guarded(fieldsCol(op)), guarded(comparing(op, schema)))
      case "argmin" => min_by(guarded(fieldsCol(op)), guarded(comparing(op, schema)))
      case "array_agg" =>
        val v = guarded(fieldsCol(op))
        val collected =
          if (op.bool("distinct").getOrElse(false)) collect_set(v)
          else collect_list(v)
        op.str("order").map {
          case "descending" | "desc" => sort_array(collected, asc = false)
          case _ => sort_array(collected)
        }.getOrElse(collected)
      case "any" => any_value(guarded(fieldsCol(op)), lit(true))
      // --- parity-plus ops the reference lacks ("no HLL distinct
      // anywhere", SURVEY §2.6) but a 100 TB aggregation layer needs:
      // exact distinct counting is an Expand + full shuffle of the
      // distinct keys, so the HLL sketch (approx_count_distinct,
      // fixed-size partial aggregate, one narrow shuffle) is the
      // scale path; percentiles likewise pair an exact form with the
      // bounded-memory approx sketch.
      case "count_distinct" =>
        count_distinct(guarded(fieldsCol(op)))
      case "approx_count_distinct" =>
        approx_count_distinct(guarded(valueCol),
          op.dbl("rsd").getOrElse(0.05))
      // mergeable distinct sketches (DataSketches HLL): `hll_sketch`
      // emits a binary sketch per group, `hll_union` merges sketch
      // columns from earlier aggregations — the incremental pattern
      // for distinct counting at 100 TB (pre-aggregate per partition/
      // day, union later, estimate once; see select func
      // hll_estimate). Exact below ~512 distincts (coupon mode), so
      // small-scale oracles can pin exact values.
      case "hll_sketch" =>
        hll_sketch_agg(guarded(valueCol),
          lit(op.int("lgConfigK").getOrElse(12)))
      case "hll_union" =>
        hll_union_agg(guarded(valueCol), lit(false))
      // frequent-items sketches (Spark's approx_top_k family —
      // SpaceSaving-style, fixed-size partial aggregate): `top_k`
      // estimates the k most frequent values of the field per group
      // directly; `top_k_accumulate`/`top_k_combine` mirror the HLL
      // two-stage pattern (sketch per partition/day, merge later,
      // estimate once — see select func top_k_estimate). Counts are
      // EXACT while the group's distinct count stays at or under
      // maxItemsTracked, so bounded-domain oracles pin exact values.
      case "top_k" =>
        call_function("approx_top_k", guarded(valueCol),
          lit(op.int("k").getOrElse(5)),
          lit(op.int("maxItemsTracked").getOrElse(10000)))
      case "top_k_accumulate" =>
        call_function("approx_top_k_accumulate", guarded(valueCol),
          lit(op.int("maxItemsTracked").getOrElse(10000)))
      case "top_k_combine" =>
        call_function("approx_top_k_combine", guarded(valueCol),
          lit(op.int("maxItemsTracked").getOrElse(10000)))
      // mergeable quantile sketches (DataSketches KLL): `kll_sketch`
      // emits a binary sketch per group, `kll_merge` merges sketch
      // columns from earlier aggregations — the same incremental
      // two-stage pattern as hll_sketch/hll_union and
      // top_k_accumulate/top_k_combine, for percentiles (see select
      // func kll_quantile). Exact while n <= k (every value
      // retained), so bounded-domain oracles pin exact order
      // statistics.
      case "kll_sketch" =>
        graft.functions.KllFunctions.kllSketch(
          op.int("k").getOrElse(200),
          guarded(valueCol.cast(DoubleType)))
      case "kll_merge" =>
        graft.functions.KllFunctions.kllMerge(
          op.int("k").getOrElse(200), guarded(valueCol))
      // mergeable distinct-SET sketches (DataSketches Theta): unlike
      // HLL these support set ALGEBRA — intersection/difference
      // estimates between sketches (see select funcs theta_estimate /
      // theta_intersect / theta_difference) — so cross-corpus overlap
      // audits never shuffle the raw sets. Exact below the sampling
      // threshold (2^lgK nominal entries), so bounded-domain oracles
      // pin exact values.
      case "theta_sketch" =>
        // distinct identity is the STRING rendering of the value —
        // normalized (SketchNorm) so the same logical number sketched
        // from differently-typed columns intersects correctly
        graft.functions.ThetaFunctions.thetaSketch(thetaLgK,
          guarded(graft.functions.SketchNorm.normalize(
            sketchInputType(op, schema), valueCol)))
      case "theta_union" =>
        graft.functions.ThetaFunctions.thetaUnion(thetaLgK,
          guarded(valueCol))
      // mergeable FREQUENCY sketches (count-min, Spark's native
      // aggregate): point-frequency estimates for keys chosen AFTER
      // the scan — top_k only retains its heavy hitters. One-sided
      // guarantee (estimate >= true; <= true + eps·N w.p. >=
      // confidence); fixed-size depth×width grid, two-stage pattern
      // like the other families (see select func cms_estimate).
      // Values are string-normalized like theta, so build and probe
      // sides agree across column types.
      case "cms_sketch" =>
        // the version envelope is prepended to the native
        // aggregate's per-group output
        graft.functions.SketchPayload.wrap(count_min_sketch(
          guarded(graft.functions.SketchNorm.normalize(
            sketchInputType(op, schema), valueCol)),
          lit(op.dbl("eps").getOrElse(1e-4)),
          lit(op.dbl("confidence").getOrElse(0.999)),
          lit(op.int("seed").getOrElse(42))))
      case "cms_merge" =>
        graft.functions.CmsFunctions.cmsMerge(guarded(valueCol))
      // element-wise vector aggregates (mean-pooling chunk embeddings
      // into document embeddings, centroids over assigned members):
      // O(d) mergeable buffer, partial-combines map-side, so only one
      // d-length vector per (partition, group) shuffles.
      case "vector_sum" =>
        graft.functions.VectorFunctions.vectorSum(
          guarded(valueCol.cast(ArrayType(DoubleType))),
          s"vector_sum $name")
      case "vector_avg" =>
        graft.functions.VectorFunctions.vectorAvg(
          guarded(valueCol.cast(ArrayType(DoubleType))),
          s"vector_avg $name")
      case "median" => median(guarded(valueCol.cast(DoubleType)))
      case "percentile" =>
        val v = guarded(valueCol.cast(DoubleType))
        val pct = op.dbl("percentile").orElse(op.dbl("fraction"))
          .getOrElse(0.5)
        if (op.bool("approximate").getOrElse(false))
          percentile_approx(v, lit(pct),
            lit(op.int("accuracy").getOrElse(10000)))
        else percentile(v, lit(pct))
      case "simple_regression" =>
        // per-group OLS (SimpleRegression.java): y = field, x = xField
        // or event-time millis → struct(slope, intercept, rmse)
        val y = guarded(valueCol.cast(DoubleType))
        val x = op.str("xField")
          .map(f => guarded(col(f).cast(DoubleType)))
          .getOrElse(guarded(
            (eventTime.cast(DoubleType) * lit(1000d))))
        val slope = regr_slope(y, x)
        val intercept = regr_intercept(y, x)
        // RMSE via regression algebra: sqrt(SSE/n),
        // SSE = Syy - slope^2 * Sxx  (per-group sums of squares)
        val n = regr_count(y, x)
        val syy = regr_syy(y, x)
        val sxx = regr_sxx(y, x)
        val sse = greatest(syy - pow(regr_slope(y, x), 2) * sxx, lit(0d))
        struct(slope.as("slope"), intercept.as("intercept"),
          sqrt(sse / n).as("rmse"))
      case other =>
        throw new IllegalArgumentException(s"unknown aggregation op: $other")
    }
    agg.as(name)
  }

  /** `field` or multi-`fields` (struct) value for first/last/argmax/
    * array_agg (`ArgMax.java:92-111`, `Last.java:72-90`). */
  private def fieldsCol(op: JsonNode): Column = {
    val fields = op.strArr("fields")
    if (fields.size > 1) struct(fields.map(col): _*)
    else col(fields.headOption.orElse(op.str("field")).getOrElse(
      throw new IllegalArgumentException(s"op requires field(s): $op")))
  }

  private def comparing(op: JsonNode, schema: StructType): Column =
    op.str("comparingExpression") match {
      case Some(e) =>
        ExprCompiler.toNullable(ExprCompiler.compile(e, schema))
      case None => col(op.str("comparingField").getOrElse(
        throw new IllegalArgumentException(
          s"argmax/argmin requires comparingField: $op")))
    }

  /** Declared input type for string-identity sketches (theta, cms):
    * drives the SketchNorm numeric normalization. Dotted paths
    * resolve into struct fields so a nested numeric column is
    * normalized like a flat one. */
  private def sketchInputType(op: JsonNode,
      schema: StructType): DataType =
    op.str("expression") match {
      case Some(_) => DoubleType // exp4j grammar is all-double
      case None => op.str("field")
        .map(graft.functions.SketchNorm.resolveType(schema, _))
        .getOrElse(StringType)
    }
}
