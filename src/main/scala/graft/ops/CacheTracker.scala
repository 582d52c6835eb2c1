package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-run frames and conf overrides. Operators persist frames
  * (ngram-dedup candidates, decontaminate benchmark grams, http
  * source snapshots) for the lifetime of the RUN — consumers execute
  * at sink-action time, after build() returns — so they cannot
  * unpersist locally without defeating the cache. Module builders
  * set session confs the run's queries capture at start (the
  * stream-stream join's and streaming dedup's stateShufflePartitions)
  * for the same lifetime.
  *
  * `Pipeline.execute` and `Pipeline.build` wrap each run in a SCOPE
  * (graph construction runs on the caller's thread, so a thread-local
  * scope is exact). Closing a scope always restores its conf
  * overrides, in reverse order. `execute` releases the scope's frames
  * when its sink actions complete — unless the run started streaming
  * queries, whose live micro-batch plans may reference a tracked
  * frame; those frames are left for session cleanup. `build` leaves
  * its frames to the enclosing scope, or to the caller when there is
  * none. Scoping keeps one long-lived streaming run from suppressing
  * release for every later batch run, and keeps one run's release
  * from unpersisting another's frames. Harnesses that drive build() +
  * their own actions (Verify/Bench) keep using
  * `spark.catalog.clearCache()` between pipelines. */
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

  /** Set a session conf until the current run scope closes. A
    * streaming query captures the session conf when it STARTS — after
    * every module has built — so one key can take only one value per
    * run: scoping it to two DIFFERENT values fails loudly, re-scoping
    * it to the same value is a no-op. */
  def runConf(sess: SparkSession, key: String, value: String): Unit = {
    val s = Option(scope.get()).getOrElse(throw new IllegalStateException(
      s"$key: a per-run conf needs a Pipeline.build/execute run"))
    s.synchronized {
      s.confs.get(key) match {
        case Some(v) if v == value => // idempotent re-scope
        case Some(v) => throw new IllegalArgumentException(
          s"conflicting per-job values for $key in one pipeline " +
            s"($v vs $value): Spark captures the conf when each " +
            "query STARTS — after every module has built — so only " +
            "one value per pipeline can take effect. Run the " +
            "modules in separate pipelines")
        case None =>
          s.confs(key) = value
          s.undos += ConfScope.set(sess, key, value)
      }
    }
  }

  /** Open a run scope on this thread. Returns a handle to close it. */
  def beginScope(): ScopeHandle = {
    val h = new ScopeHandle(scope.get())
    scope.set(h)
    h
  }

  final class ScopeHandle private[CacheTracker] (prev: ScopeHandle) {
    private[CacheTracker] val frames =
      scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    private[CacheTracker] val confs =
      scala.collection.mutable.Map[String, String]()
    private[CacheTracker] val undos =
      scala.collection.mutable.ArrayBuffer[() => Unit]()

    /** Restore the scope's confs; then `release = true` unpersists its
      * frames, `false` hands them to the enclosing scope. */
    def close(release: Boolean): Unit = {
      scope.set(prev)
      undos.reverseIterator.foreach(_())
      if (release) frames.foreach { d =>
        try d.unpersist(blocking = false)
        catch { case _: Throwable => } // session may already be stopped
      }
      else if (prev != null) prev.synchronized { prev.frames ++= frames }
    }
  }
}
