package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Side-channel from the aggregation module to [[StreamRunner]] for
  * DISCARDING-mode early firings (reference `module/Strategy.java:
  * 84-89` mode enum + `:276-297` early firings).
  *
  * Beam's discarding accumulation emits each pane over only the
  * elements that arrived since the previous firing of that window.
  * On Structured Streaming that is exactly a per-micro-batch
  * re-aggregation of the PRE-aggregation stream: with a
  * ProcessingTime trigger, each micro-batch holds precisely the
  * elements that arrived since the last tick, so aggregating the
  * batch inside foreachBatch yields the discarding pane for every
  * aggregate type (count/sum but also min/max/argmax/array_agg,
  * which no delta scheme could reconstruct from accumulated
  * outputs) — with ZERO streaming aggregation state.
  *
  * The aggregation module registers its pre-agg frame plus a batch
  * re-aggregation closure, identity-keyed on the output frame's
  * logical plan; StreamRunner looks the recipe up when a sink
  * declares `mode: discarding` with an early-firing trigger. The
  * registry is bounded (cleared past 64 entries) so repeated
  * Pipeline.execute calls in one JVM cannot leak plans.
  */
private[graft] object PaneRecipes {
  /** `keys` = the aggregation's groupFields (window column excluded —
    * engines detect it from the re-aggregated frame), so pane engines
    * can scope firings per key+window like Beam triggers do.
    * `windowEndOf` = bucket-end derivation for windows the batch
    * re-aggregation renders as a SCALAR start (calendar buckets of
    * every shape — simple, anchored, N-unit, week-offset), computed
    * HERE from the aggregation's OWN strategy node: the pane engines
    * must not re-derive it from the sink's strategy, which wins the
    * trigger/mode precedence but need not declare the window.
    * `elementEndOf` = per-element retention horizon over a PRE-AGG
    * batch (epoch-second upper bound on the latest window end the
    * element can feed, [[Strategy.elementRetainEnd]]) — the
    * accumulating exact-pane engine partitions its element store by
    * it so expired elements drop by path. `elementGrid` = the
    * horizon's window-end grid (period, k), [[Strategy.endGrid]]:
    * the element's end set is {horizon − j·period, 0 ≤ j < k}, so the
    * engine derives fired-window candidates and their contributing
    * horizon partitions arithmetically. */
  final case class Recipe(preAgg: DataFrame, reAgg: DataFrame => DataFrame,
      keys: Seq[String],
      windowEndOf: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = None,
      elementEndOf: Option[DataFrame =>
        org.apache.spark.sql.Column] = None,
      elementGrid: Option[(Long, Int)] = None)

  private val recipes = new java.util.IdentityHashMap[LogicalPlan, Recipe]

  def register(out: DataFrame, preAgg: DataFrame,
      reAgg: DataFrame => DataFrame, keys: Seq[String] = Nil,
      windowEndOf: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = None,
      elementEndOf: Option[DataFrame =>
        org.apache.spark.sql.Column] = None,
      elementGrid: Option[(Long, Int)] = None): Unit =
    recipes.synchronized {
      if (recipes.size > 64) recipes.clear()
      recipes.put(out.queryExecution.logical,
        Recipe(preAgg, reAgg, keys, windowEndOf, elementEndOf,
          elementGrid))
    }

  def lookup(df: DataFrame): Option[Recipe] =
    recipes.synchronized(Option(recipes.get(df.queryExecution.logical)))
}
