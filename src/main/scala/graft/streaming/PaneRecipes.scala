package graft.streaming

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

/** Side-channel from the aggregation module to [[StreamRunner]]'s
  * pane engine — DISCARDING and ACCUMULATING panes with early
  * firings, both exact (reference `module/Strategy.java:84-89` mode
  * enum + `:276-297` early firings).
  *
  * In the Dataflow Model a pane is the window's combine applied to a
  * subset of its elements: the elements since the previous firing
  * (discarding) or all elements so far (accumulating). The recipe is
  * that combine: `reAgg` runs the aggregation module's own per-input
  * body over a BATCH of the pre-aggregation stream, grouped with the
  * streaming window encoding, so a pane row is exactly the row the
  * streaming aggregate would emit — `{start, end}` window struct,
  * timestampCombiner stamp and all — for every aggregate type
  * (min/max/argmax/array_agg included, which no output-delta scheme
  * could reconstruct). The engine runs it on each micro-batch for
  * discarding panes (with a ProcessingTime trigger a micro-batch
  * holds precisely the elements since the last tick) and on its
  * retained element store for accumulating ones.
  *
  * The aggregation registers the recipe on the current run scope
  * (`CacheTracker.registerRecipe`), identity-keyed on its output
  * frame's logical plan; a pane sink of the same run looks it up
  * when it starts (`CacheTracker.recipe`).
  */
private[graft] object PaneRecipes {
  /** `preAgg` = the pre-aggregation stream; `reAgg` = the aggregation
    * over a batch of it; `keys` = the aggregation's groupFields
    * (window column excluded — engines detect it from the
    * re-aggregated frame), so pane engines can scope firings per
    * key+window like Beam triggers do; `strategy` = the aggregation's
    * OWN strategy node, from which the engine derives its
    * element retention horizon and window-end grid
    * ([[Strategy.elementRetainEnd]], [[Strategy.endGrid]]) — the
    * sink's strategy wins the trigger/mode precedence but need not
    * declare the window. */
  final case class Recipe(preAgg: DataFrame, reAgg: DataFrame => DataFrame,
      keys: Seq[String], strategy: Option[JsonNode])
}
