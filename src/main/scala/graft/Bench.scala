package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{struct, sum, xxhash64}
object Bench {
  /** Forces evaluation of EVERY output column: under a bare count()
    * Catalyst prunes unreferenced projections, so select-heavy queries
    * would be benched as near-noops. Hashing struct("*") keeps the
    * full projection in the measured plan.
    */
  private def consume(df: DataFrame): Unit = {
    val cols = df.columns
    if (cols.isEmpty) { df.count(); () }
    else
      // xxhash64 rejects some types (e.g. map); fall back to a
      // full-width string hash rather than a pruned count
      try df.agg(sum(xxhash64(struct(cols.head, cols.tail: _*)))).collect()
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          df.agg(sum(xxhash64(df.columns.map(c =>
            org.apache.spark.sql.functions.col(c).cast("string")): _*))).collect()
      }
  }
  /** Per-query battery hygiene (r19 verdict: the 202-query common
    * subset ran +39.8 s slower than r18, concentrated in drain-bound
    * streaming gates whose code had no diff — battery-scale
    * interference, not plan cost). Three accumulators grow with
    * query count in a shared JVM and tax LATER measurements:
    *
    *  - loaded state-store providers: every stopped streaming query
    *    leaves its providers (in-memory version maps) registered
    *    until the 60 s maintenance tick notices; across 800+ query
    *    executions the maintenance thread's scan + snapshot work
    *    grows unboundedly. `StateStore.stop()` unloads them all and
    *    parks the maintenance task (it restarts lazily on the next
    *    stateful query).
    *  - terminated-query registries: `resetTerminated()` drops the
    *    grown progress/exception history.
    *  - per-gate scratch dirs (checkpoints, staged inputs, sink
    *    outputs) under java.io.tmpdir: thousands of graft_* dirs
    *    accumulate per battery (and across rounds), slowing every
    *    directory listing the state-store and sink paths do.
    *
    * Runs OUTSIDE the timed window (after a query's samples), so it
    * charges to no measurement.
    *
    * The sweep is confined to THIS JVM's private scratch root
    * (main() points FsUtil.scratchRoot at a dir only it owns before
    * anything runs): a /tmp-wide prefix sweep would delete LIVE
    * scratch belonging to other JVMs on the box — e.g. a concurrent
    * test suite's active streaming checkpoints — and a
    * world-writable /tmp invites symlink games besides. */
  private def hygiene(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try spark.streams.resetTerminated()
    catch { case _: Throwable => () }
    val tmp = graft.ops.FsUtil.scratchRoot.toFile
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("graft-ckpt-") ||
          f.getName.startsWith("graft_q") ||
          f.getName.startsWith("graft-failures-")))
      .foreach(f => try graft.ops.FsUtil.deleteRecursively(f)
        catch { case _: Throwable => () })
  }

  /** Total JVM GC time, for attributing collector cost to the query
    * whose garbage caused it (battery-vs-isolated drift showed up as
    * phantom per-query "regressions" in r12 — q46/q64 read 8x/6.7x
    * their isolated cost; per-query gc numbers make that
    * adjudicable from the JSON instead of needing a judge re-run). */
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Characters of stdout tail the harness captures, measured from
    * BENCH_r01–r14's `tail` field: exactly 2000 — and EVERY round's
    * artifact was `parsed: null` because the one-big-line layout
    * never fit (164 full query names alone are ~2.6 KB). The final
    * stdout line must therefore fit WHOLE inside the window. */
  val TailWindowBytes = 2000

  /** sbt prints `[success] Total time: …, completed <date>` AFTER
    * our line (visible in every captured tail, ~76 chars); reserve
    * for it plus newline slack. */
  val SbtSuffixReserve = 120

  def lineBudget: Int = TailWindowBytes - SbtSuffixReserve

  /** Deterministic priority order for the bounded stdout dict: the
    * queries the round ledger tracks most closely (heavy recipes,
    * iterative graph rounds, streaming drains, the joins), then
    * everything else alphabetically until the byte budget is hit.
    * The FULL per-query set always lands in `bench_full.json`. */
  private[graft] val headline: Seq[String] = Seq(
    "q1_pricing", "q3_sql_join", "q9_limit", "q14_dedup_exact",
    "q20_dedup_minhash", "q23_knn", "q31_fixed_window", "q46_agg_limit",
    "q54_avro_roundtrip", "q64_jdbc_roundtrip", "q70_calendar_week_stream",
    "q80_agg_distinct", "q82_accumulating_panes", "q93_bucket_join",
    "q103_components", "q109_pagerank", "q110_tfidf", "q112_profile",
    "q116_chunk_cdc", "q117_bm25", "q125_knn_selfjoin",
    "q127_dedup_winnow", "q129_winnow_cross", "q135_profile_percentiles",
    "q136_bm25_retrieval", "q137_winnow_index_union",
    "q138_pagerank_dangling", "q143_interval_join", "q144_fuzzy_join",
    "q145_interval_overlap", "q146_cms_freq", "q147_entity_resolution",
    "q148_overlap_estimate", "q153_panes_restart", "q154_fuzzy_ngram",
    "q166_interval_ss_left", "q167_calendar_dst_panes",
    "q169_interval_ss_overlap", "q178_stream_lsh_dedup",
    "q179_stream_embedding_dedup", "q180_stream_decontaminate",
    "q181_stream_knn", "q182_stream_drift", "q183_stream_ngram_dedup")

  /** Seconds rendered to `dp` decimals with trailing zeros stripped
    * ("0.470"→"0.47", "2.000"→"2") — valid JSON numbers, minimal
    * bytes. */
  private[graft] def compact(v: Double, dp: Int): String = {
    val b = java.math.BigDecimal.valueOf(v)
      .setScale(dp, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros()
    // stripTrailingZeros on 0E-3 etc. needs toPlainString to avoid
    // exponent notation (not all JSON parsers take 2E+1)
    b.toPlainString
  }

  /** The single final stdout line, complete-by-construction inside
    * the harness tail window: meta keys first, then as many
    * per-query timings as the byte budget allows, in headline-first
    * deterministic order. Truncation is EXPLICIT (`queries_total` /
    * `queries_omitted`) per the repo's no-silent-caps convention,
    * and `full` names the complete artifact written alongside. */
  private[graft] def renderBenchLine(times: Seq[(String, Double)],
      errors: Seq[String], leaks: Seq[String], samples: Int, cpus: Int,
      sfDir: String): String = {
    val byName = times.toMap
    val inHead = headline.filter(byName.contains)
    val rest = times.map(_._1).filterNot(inHead.toSet).sorted
    val order = inHead ++ rest
    val total = times.map(_._2).sum
    // a mass-failure round (broken build, missing fixture dir) puts
    // most of the ~170 gate names into errors — unbounded, that
    // alone outgrows the tail window and reproduces the parsed:null
    // failure this line exists to fix. Cap both lists with explicit
    // totals; the complete lists live in bench_full.json.
    def capped(xs: Seq[String]): String =
      xs.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    val errJson = capped(errors)
    val leakJson = capped(leaks)
    def meta(omitted: Int): String =
      s"""{"metric":"total","value":${compact(total, 3)},""" +
        s""""unit":"sec","samples":$samples,"sf":"$sfDir",""" +
        s""""cpus":$cpus,""" +
        s""""errors_total":${errors.size},"errors":$errJson,""" +
        s""""leaked_total":${leaks.size},""" +
        s""""leaked_streams":$leakJson,""" +
        s""""full":"bench_full.json","queries_total":${times.size},""" +
        s""""queries_omitted":$omitted,"queries":{"""
    val overhead = meta(times.size).length + 2 // worst-case digits + "}}"
    val entries = order.map(k => "\"" + k + "\":" + compact(byName(k), 3))
    var used = 0
    val kept = entries.takeWhile { e =>
      val next = used + e.length + 1
      if (next + overhead <= lineBudget) { used = next; true } else false
    }
    meta(times.size - kept.size) + kept.mkString(",") + "}}"
  }

  /** Complete artifact: every query at full precision, plus the
    * per-query gc attribution — the stdout line's `full` pointer. */
  private[graft] def renderFullJson(times: Seq[(String, Double)],
      gcs: String, errors: Seq[String], leaks: Seq[String],
      samples: Int, sfDir: String): String = {
    val qs = times.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val leakJson = leaks.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${times.map(_._2).sum},""" +
      s""""unit":"sec","gc":$gcs,"leaked_streams":$leakJson,""" +
      s""""errors":$errJson,"samples":$samples,"sf":"$sfDir",""" +
      s""""queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    // FIRST statement: give this battery a private scratch root, so
    // every gate's temp dir (graft_q*/graft-ckpt-* via
    // FsUtil.scratchDir) lands somewhere only this JVM owns — the
    // hygiene sweep then cannot touch another process's live
    // checkpoints, and the whole battery's scratch dies with this
    // one dir at exit. (Re-pointing java.io.tmpdir does NOT work:
    // the JDK caches the tmpdir location at the first Files temp
    // call, which under an sbt fork happens before main — measured
    // gate scratch leaking back into the shared /tmp.)
    val sharedTmp = new java.io.File(
      System.getProperty("java.io.tmpdir"))
    // reap PRIOR batteries' private roots whose JVM is gone (the
    // shutdown hook covers clean exits only — a kill -9/OOM leaves
    // gigabytes of checkpoints behind): the embedded pid makes
    // liveness checkable, so this never touches a RUNNING battery
    Option(sharedTmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft-bench-"))
      .filter { f =>
        // name = graft-bench-<pid>-<ts>; unparseable names count as
        // dead (they cannot belong to a live battery using this
        // naming scheme)
        f.getName.split("-").lift(2).flatMap(_.toLongOption)
          .forall { pid =>
            val h = ProcessHandle.of(pid)
            !h.isPresent || !h.get().isAlive
          }
      }
      .foreach(f => try graft.ops.FsUtil.deleteRecursively(f)
        catch { case _: Throwable => () })
    val privateTmp = new java.io.File(sharedTmp,
      s"graft-bench-${ProcessHandle.current().pid()}-" +
        s"${System.currentTimeMillis()}")
    require(privateTmp.mkdirs(),
      s"bench: could not create private tmpdir $privateTmp")
    graft.ops.FsUtil.scratchRoot = privateTmp.toPath
    sys.addShutdownHook {
      try graft.ops.FsUtil.deleteRecursively(privateTmp)
      catch { case _: Throwable => () }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Run.localSession()
    val cpus = spark.sparkContext.defaultParallelism
    // optional comma-separated filter for local micro-benching; the
    // driver never sets it, so round benches always cover everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    // benchOnly: default-hash-mode twins of the md5 audit gates —
    // measured but not oracle-checked (their md5 twins verify)
    val selected = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Warm EVERY selected query's plan once before timing anything: a
    // partial warmup (r5/r6 covered only filter/agg/window codegen)
    // left whichever paths ran first in the battery charged 2-6x
    // their steady-state cost for one-time JIT/class-loading (q54
    // measured 6.98s in battery vs 1.19s isolated; q49 2.6s vs 0.7s
    // warm) — which poisoned round-over-round comparisons. A full
    // pre-run makes battery == isolated == steady state.
    // cross-query leakage guard: a gate that leaves a streaming query
    // running (e.g. its stopAll never ran because an exception fired
    // first) would steal executor threads from EVERY later
    // measurement — stop stragglers after each query and name the
    // offender in the JSON so battery numbers stay per-plan costs
    val leaks = scala.collection.mutable.LinkedHashSet[String]()
    def reap(name: String): Unit =
      if (graft.streaming.StreamRunner.activeQueries.nonEmpty) {
        leaks += name
        try graft.streaming.StreamRunner.stopAll()
        catch { case _: Throwable => () }
      }
    // (prior sessions' leftovers are reaped at startup via the dead-
    // pid graft-bench-* sweep above; hygiene here only ever sees
    // this JVM's own private root)
    selected.foreach { case (name, fn) =>
      try consume(fn(spark, sfDir)) catch { case _: Throwable => () }
      reap(name)
      spark.catalog.clearCache()
      hygiene(spark)
    }
    // multi-sample timings, min of N (default 2): single-sample
    // numbers were contention-poisoned three rounds running — one
    // co-tenant CPU burst during a query's lone measurement read as a
    // 9× "regression" that an idle re-run couldn't reproduce. The min
    // across samples is the best estimate of the plan's cost (noise
    // under battery conditions is strictly additive).
    //
    // Samples are DECORRELATED (r20): the battery runs as N full
    // passes over every query, min per query ACROSS passes — not N
    // adjacent samples per query. Adjacent samples share whatever
    // slow window the JVM/OS is in (r19's q163 printed 12.87 s
    // battery vs 4.97 s isolated min-of-5 on identical code; two
    // same-code battery replays elected DIFFERENT victims — q167
    // 10.1 vs 6.4, q172 10.3 vs 6.9, q183 4.9 vs 12.5 — and a
    // state-store/scratch hygiene A/B moved nothing, so the
    // interference is stochastic drain-choreography timing, not
    // resource accumulation). With passes minutes apart, one noise
    // window can no longer poison all of a query's samples, so the
    // min the driver prints converges on the plan's real cost.
    val samples = sys.env.get("SPARK_GRAFT_BENCH_SAMPLES")
      .map(_.toInt).filter(_ >= 1).getOrElse(3)
    val errors = scala.collection.mutable.ListBuffer[String]()
    val byName = scala.collection.mutable.Map[String, (Double, Double)]()
    (1 to samples).foreach { _ =>
      selected.foreach { case (name, fn) =>
        val g0 = gcMillis
        val t0 = System.nanoTime()
        // a failed query must not masquerade as a fast one: record
        // it loudly on stderr and in the JSON errors key (benchOnly
        // queries have no oracle twin to catch breakage otherwise)
        var failed = false
        try consume(fn(spark, sfDir)) catch {
          case e: Throwable =>
            failed = true
            if (!errors.contains(name)) errors += name
            System.err.println(
              s"bench: $name FAILED: ${e.getClass.getSimpleName}: " +
                s"${Option(e.getMessage).getOrElse("").take(200)}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val sample = (dt, (gcMillis - g0) / 1e3)
        // a failed execution's time-to-failure is not a plan cost:
        // feeding it into the min would let one transient pass-2
        // failure report a phantom speedup next to the error flag
        if (!failed) byName(name) = byName.get(name) match {
          case Some(prev) if prev._1 <= dt => prev
          case _ => sample
        }
        // queries that persist() intermediates (dedup candidate
        // sets, decontamination gram sets) would otherwise
        // accumulate cached blocks across all 50+ queries —
        // measured 3× slowdown on late queries from the memory/GC
        // pressure, not from their plans
        spark.catalog.clearCache()
        reap(name)
        // charge each query's garbage to the query that made it: a
        // full collection here keeps the NEXT measurement from
        // paying this one's GC debt (it runs outside the timed
        // window)
        hygiene(spark)
        System.gc()
      }
    }
    // a query that failed EVERY pass has no valid sample: report 0.0
    // next to its errors entry rather than crash the whole battery
    val results = selected.map { case (name, _) =>
      name -> byName.getOrElse(name, (0.0, 0.0)) }
    // per-query GC seconds INSIDE the reported (min) sample: a
    // battery number far above its isolated twin with a matching gc
    // entry is collector pressure, not a plan regression — judge
    // r12's adjudication, now self-serve from the JSON
    // compact(), not f"%.3f": the f interpolator renders with the
    // default locale (comma decimals under de_DE → invalid JSON)
    val gcs = results.map { case (k, (_, g)) =>
      s"\"" + k + "\":" + compact(g, 3) }.mkString("{", ",", "}")
    // stop FIRST, print LAST: the harness reads the tail of stdout and
    // any straggler log line after the JSON breaks its one-line
    // contract (this, plus per-query UDF re-registration WARNs, left
    // rounds 3-5 with unparseable bench files)
    spark.stop()
    SparkEntry.closeFixtures()
    System.out.flush(); System.err.flush()
    val times = results.map { case (k, (v, _)) => (k, v) }
    // the harness captures only the last 2000 chars of stdout and
    // parses from there — the one-big-line layout never fit (r01–r14
    // all shipped `parsed: null`), and at 164 queries the full-name
    // dict alone is ~2.6 KB, so no rendering of ALL queries can fit.
    // The complete artifact goes to bench_full.json in the WORKING
    // DIRECTORY (the checkout the bench ran from — a fixed absolute
    // path would silently write into an unrelated checkout); the
    // final stdout line is complete-within-window by construction,
    // with explicit queries_total/queries_omitted accounting.
    val fullPath = java.nio.file.Paths.get("bench_full.json")
    java.nio.file.Files.write(fullPath,
      (renderFullJson(times, gcs, errors.toSeq, leaks.toSeq, samples,
        sfDir) + "\n").getBytes("UTF-8"))
    println(renderBenchLine(times, errors.toSeq, leaks.toSeq, samples,
      cpus, sfDir))
    System.out.flush()
    // the http gate fixtures' dispatcher threads are non-daemon; a
    // plain return would leave the JVM (and the driver's bench step)
    // waiting on them forever
    System.exit(0)
  }
}
