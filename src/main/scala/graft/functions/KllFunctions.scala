package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mergeable quantile sketches (DataSketches KLL) — the third
  * mergeable-sketch family next to HLL (distincts) and frequent-items
  * (top-k): pre-aggregate a KLL sketch per partition/day, merge the
  * binary sketches later, query quantiles once. At 100 TB this turns
  * percentile monitoring into the same incremental two-stage pattern
  * as distinct counting — no raw-value shuffle, fixed-size state.
  *
  * `kllSketch` accumulates doubles into a binary sketch; `kllMerge`
  * merges sketch columns from earlier aggregations. A sketch with
  * `k` retained items is EXACT while n ≤ k (every value retained), so
  * bounded-domain oracles pin exact order statistics; beyond that the
  * rank error is the published KLL bound (~1.65/sqrt(k) normalized).
  *
  * Every helper is Spark's native DataSketches KLL expression
  * (`kll_sketch_agg_double` and friends, the same sketch library and
  * serialization), so both stages partial-combine map-side as
  * typed imperative aggregates and the reads stay Catalyst
  * expressions. */
object KllFunctions {

  def kllSketch(k: Int, value: Column): Column =
    kll_sketch_agg_double(value, k)

  def kllMerge(k: Int, sketch: Column): Column =
    kll_merge_agg_double(sketch, k)

  // an all-null group yields an EMPTY sketch, which Spark's getters
  // reject (KLL_INVALID_INPUT_SKETCH_BUFFER): read only non-empty
  // sketches, so null/empty both read as null
  private def nonEmpty(sketch: Column, read: Column): Column =
    when(kll_sketch_get_n_double(sketch) > 0, read)

  /** Quantile of a binary KLL sketch column at `fraction`, inclusive
    * search (the smallest retained value whose rank ≥ fraction — for
    * an exact sketch, the ⌈q·n⌉-th order statistic). Null for
    * null/empty sketches. */
  def kllQuantile(sketch: Column, fraction: Double): Column =
    nonEmpty(sketch, kll_sketch_get_quantile_double(sketch, lit(fraction)))

  /** Driver-side quantile read of a binary KLL sketch at several
    * fractions (inclusive search, like [[kllQuantile]]): None for
    * null/empty sketches. Used by the profilers to derive quantile
    * columns and baseline-anchored bucket edges from one sketch pass.
    * Exactness note: with an exact sketch (n ≤ k) the inclusive
    * quantile at fraction f is the value at the FIRST rank ≥ f·n,
    * where f·n is computed in double arithmetic — an oracle replay
    * must compare in double too (an integer ceil(f·n) diverges when
    * the real product is integral but the double product carries
    * representation error, e.g. 0.2 · 46845). */
  def quantilesAt(bytes: Array[Byte],
      fractions: Seq[Double]): Option[Seq[Double]] =
    if (bytes == null) None
    else {
      val sk = KllDoublesSketch.heapify(Memory.wrap(bytes))
      if (sk.isEmpty) None
      else Some(fractions.map(sk.getQuantile))
    }

  /** Inverse of [[kllQuantile]]: the rank of `value` in a binary KLL
    * sketch column — the fraction of sketched values ≤ `value`
    * (inclusive search; exact count(x ≤ v)/n while the sketch is
    * exact, i.e. n ≤ k). The eval-side read of a quantile index:
    * "what fraction of the corpus scores at or below this
    * threshold". Null for null/empty sketches. */
  def kllRank(sketch: Column, value: Double): Column =
    nonEmpty(sketch, kll_sketch_get_rank_double(sketch, lit(value)))
}
