package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable FREQUENCY sketches (count-min) — the fifth mergeable
  * family next to HLL (distinct counts), frequent-items (top-k),
  * KLL (quantiles) and Theta (set algebra). A count-min sketch
  * answers point-frequency queries ("how many times did THIS
  * token/url/user appear") over keys chosen AFTER the scan, which
  * top-k cannot (it only retains its heavy hitters) — with the
  * one-sided guarantee estimate >= true count, and
  * estimate <= true + eps·N with probability >= confidence. The
  * sketch is a fixed-size depth×width counter grid however much data
  * streams through, so the usual two-stage pattern holds at 100 TB:
  * one sketch per group/partition/day (map-side partial combine —
  * the sketch agg itself is Spark's NATIVE `count_min_sketch`
  * aggregate), `cms_merge` across sketches later, probe once.
  *
  * Sketches are Spark `CountMinSketch` binaries; values are
  * normalized to strings ([[SketchNorm]]) on BOTH the build and the
  * probe side, so differently-typed columns of the same logical
  * values agree. Merging sketches with different eps/confidence/seed
  * fails loudly (`IncompatibleMergeException`) — silently merging
  * incompatible grids would corrupt every estimate. */
object CmsFunctions {

  private def read(b: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))

  private def write(s: CountMinSketch): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    s.writeTo(out)
    out.toByteArray
  }

  private class CmsMergeAgg(
      bufEnc: Encoder[Array[Byte]], outEnc: Encoder[Array[Byte]])
    extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = null
    private def m(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a == null) b
      else if (b == null) a
      else write(read(a).mergeInPlace(read(b)))
    // external inputs may carry the version envelope; buffers raw
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] =
      m(b, SketchPayload.unwrap(a, "cms_merge"))
    def merge(b1: Array[Byte], b2: Array[Byte]): Array[Byte] = m(b1, b2)
    def finish(b: Array[Byte]): Array[Byte] = SketchPayload.wrap(b)
    def bufferEncoder: Encoder[Array[Byte]] = bufEnc
    def outputEncoder: Encoder[Array[Byte]] = outEnc
  }

  /** Merge binary count-min sketch columns from earlier
    * aggregations (all built with the same eps/confidence/seed). */
  def cmsMerge(sketch: Column): Column =
    udaf(new CmsMergeAgg(
      ExpressionEncoder[Array[Byte]](), ExpressionEncoder[Array[Byte]]()),
      ExpressionEncoder[Array[Byte]]())(sketch)

  /** Point-frequency estimate of a (string-normalized) value from a
    * binary count-min sketch column. The common probe shape joins
    * MANY probe rows against ONE sketch, so the deserialized grid
    * (eps 1e-4 → a ~20k-wide × depth counter array) is memoized per
    * task against the incoming byte array instead of being rebuilt
    * per row — Spark evaluates a UDF instance single-threaded within
    * a partition, so the two-slot cache needs no synchronization. */
  def cmsEstimate(sketch: Column, value: Column): Column = {
    val f = org.apache.spark.sql.functions.udf(
      new scala.Function2[Array[Byte], String, java.lang.Long]
        with Serializable {
        @transient private var lastBytes: Array[Byte] = _
        @transient private var lastSketch: CountMinSketch = _
        def apply(bytes: Array[Byte], v: String): java.lang.Long =
          if (bytes == null || v == null) null
          else {
            if (lastSketch == null || !((bytes eq lastBytes) ||
                java.util.Arrays.equals(bytes, lastBytes))) {
              // cache keys on the incoming payload; the envelope is
              // stripped only when (re)building the grid
              lastSketch = read(
                SketchPayload.unwrap(bytes, "cms_estimate"))
              lastBytes = bytes
            }
            java.lang.Long.valueOf(lastSketch.estimateCount(v))
          }
      })
    f(sketch, value)
  }
}
