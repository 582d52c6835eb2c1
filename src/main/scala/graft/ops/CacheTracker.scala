package graft.ops

import graft.streaming.PaneRecipes
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Per-run frames and pane recipes. Operators persist frames
  * (ngram-dedup candidates, decontaminate benchmark grams, http
  * source snapshots) for the lifetime of the RUN — consumers execute
  * at sink-action time, after build() returns — so they cannot
  * unpersist locally without defeating the cache. A streaming
  * aggregation registers its pane recipe ([[PaneRecipes]]) for the
  * run's pane sinks to look up when they start.
  *
  * `Pipeline.execute` and `Pipeline.build` wrap each run in a SCOPE
  * (graph construction runs on the caller's thread, so a thread-local
  * scope is exact). `execute` releases the scope's frames when its
  * sink actions complete — unless the run started streaming queries,
  * whose live micro-batch plans may reference a tracked frame; those
  * frames are left for session cleanup. `build` leaves its frames to
  * the enclosing scope, or to the caller when there is none. Scoping
  * keeps one long-lived streaming run from suppressing release for
  * every later batch run, keeps one run's release from unpersisting
  * another's frames, and keeps concurrent runs from seeing each
  * other's recipes. Harnesses that drive build() + their own actions
  * (Verify/Bench) keep using `spark.catalog.clearCache()` between
  * pipelines. */
object CacheTracker {
  private val scope = new ThreadLocal[ScopeHandle]()

  /** Persist `ds`; registered to the current run scope when one is
    * open (untracked otherwise — the pre-scope behavior). */
  def trackPersist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist()
    val s = scope.get()
    if (s != null) s.synchronized { s.frames += p }
    p
  }

  /** Register a streaming aggregation's pane recipe under its output
    * plan (by identity) on the current run scope; a no-op outside
    * one — [[recipe]] then tells the pane sink where to start. */
  private[graft] def registerRecipe(plan: LogicalPlan,
      r: PaneRecipes.Recipe): Unit = {
    val s = scope.get()
    if (s != null) s.synchronized { s.recipes.put(plan, r) }
  }

  /** The pane recipe registered for `plan` in the current run scope
    * or a scope enclosing it. A pane sink started outside any scope
    * fails here: its recipe was dropped when the aggregation's
    * `Pipeline.build` returned. */
  private[graft] def recipe(plan: LogicalPlan): Option[PaneRecipes.Recipe] = {
    if (scope.get() == null) throw new IllegalStateException(
      "a pane sink (afterWatermark with early firings) must start " +
        "inside a run: Pipeline.execute, or Pipeline.build and the " +
        "sink both inside an enclosing CacheTracker.beginScope()")
    Iterator.iterate(scope.get())(_.prev).takeWhile(_ != null)
      .flatMap(s => s.synchronized(Option(s.recipes.get(plan))))
      .nextOption()
  }

  /** Open a run scope on this thread. Returns a handle to close it. */
  def beginScope(): ScopeHandle = {
    val h = new ScopeHandle(scope.get())
    scope.set(h)
    h
  }

  final class ScopeHandle private[CacheTracker] (
      private[CacheTracker] val prev: ScopeHandle) {
    private[CacheTracker] val frames =
      scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    private[CacheTracker] val recipes =
      new java.util.IdentityHashMap[LogicalPlan, PaneRecipes.Recipe]()

    /** `release = true` unpersists the scope's frames and drops its
      * recipes, `false` hands both to the enclosing scope. */
    def close(release: Boolean): Unit = {
      scope.set(prev)
      if (release) frames.foreach { d =>
        try d.unpersist(blocking = false)
        catch { case _: Throwable => } // session may already be stopped
      }
      else if (prev != null) prev.synchronized {
        prev.frames ++= frames
        prev.recipes.putAll(recipes)
      }
    }
  }
}
