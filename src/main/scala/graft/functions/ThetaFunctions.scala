package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Mergeable distinct-SET sketches (DataSketches Theta) — the fourth
  * mergeable-sketch family next to HLL (distinct counts),
  * frequent-items (top-k) and KLL (quantiles). HLL only counts;
  * theta sketches keep a hash SAMPLE of the set, so two sketches
  * support set ALGEBRA: intersection and difference estimates —
  * "how many distinct URLs do these two crawls share", "how many
  * fingerprints are new in today's snapshot" — computed sketch-vs-
  * sketch, without ever shuffling the raw sets against each other.
  * At 100 TB that turns cross-corpus overlap audits into the same
  * two-stage pattern as the other sketch families: one sketch per
  * corpus/partition/day (map-side partial combine), set ops on the
  * compact sketches afterwards.
  *
  * `thetaSketch` accumulates values (as strings) into a compact
  * binary sketch; `thetaUnion` merges sketch columns from earlier
  * aggregations. A sketch with nominal entries 2^lgK is EXACT while
  * the distinct count stays below its sampling threshold (≥ 2^lgK),
  * so bounded-domain oracles pin exact values — beyond that the
  * published relative standard error is ~1/sqrt(2^lgK).
  *
  * Every helper is Spark's native DataSketches theta expression
  * (`theta_sketch_agg`, `theta_union_agg`, `theta_sketch_estimate`,
  * `theta_intersection`, `theta_difference`). Emitted sketches carry
  * the [[SketchPayload]] envelope, prepended once per group; every
  * consumer strips it once per sketch value. Estimates are Spark's
  * rounded counts, returned as doubles. */
object ThetaFunctions {

  def thetaSketch(lgK: Int, value: Column): Column =
    SketchPayload.wrap(theta_sketch_agg(value.cast(StringType), lgK))

  def thetaUnion(lgK: Int, sketch: Column): Column =
    SketchPayload.wrap(theta_union_agg(
      SketchPayload.unwrap(sketch, "theta_union"), lgK))

  /** Distinct-count estimate of a binary theta sketch column. */
  def thetaEstimate(sketch: Column): Column =
    theta_sketch_estimate(SketchPayload.unwrap(sketch, "theta_estimate"))
      .cast(DoubleType)

  /** Estimate of |A ∩ B| from two binary theta sketch columns. */
  def thetaIntersect(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_intersection(
      SketchPayload.unwrap(a, "theta_intersect"),
      SketchPayload.unwrap(b, "theta_intersect"))).cast(DoubleType)

  /** Estimate of |A \ B| from two binary theta sketch columns. */
  def thetaDifference(a: Column, b: Column): Column =
    theta_sketch_estimate(theta_difference(
      SketchPayload.unwrap(a, "theta_difference"),
      SketchPayload.unwrap(b, "theta_difference"))).cast(DoubleType)
}
