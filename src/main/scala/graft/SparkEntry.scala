package graft

import graft.gates.{Fixtures, GateFiles}
import graft.gates.Fixtures.{fixturePort, jsonEscape, wsFixturePort}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each exercising the engine end-to-end (config →
  * Pipeline → Catalyst), plus a DuckDB oracle in `oracleSql`.
  *
  * A gate that is pure config lives in `gates/<name>.yaml` (listed in
  * `gates/INDEX`), and an oracle that is plain SQL in
  * `gates/<name>.sql` (see [[graft.gates.GateFiles]]). This object
  * keeps the gates that need Scala (staged streams, write-then-read,
  * fixtures, generated data) and the oracles Scala helpers generate.
  *
  * Conventions for oracle parity:
  *  - double aggregates are rounded (4-6 decimals) on BOTH sides so
  *    summation-order ulps can't flip the hash compare;
  *  - no raw timestamp outputs (epoch micros/days instead);
  *  - every aggregate/computed column is aliased identically in the
  *    Spark config and the SQL.
  */
object SparkEntry {

  /** Build one named collection from a config over `dir`'s tables. */
  private def pipe(out: String, config: String)(
      spark: SparkSession, dir: String): DataFrame =
    Pipeline.build(spark, config, Map("dir" -> dir))(out)

  /** Stage one parquet FILE into `into` so a file-stream source
    * picks it up as its own micro-batch (shared by every
    * staged-stream gate — a directory write would surface part
    * files unpredictably). `tmpBase` hosts the single-part scratch
    * write. */
  private def stageBatch(df: DataFrame,
      cond: org.apache.spark.sql.Column, tmpBase: java.nio.file.Path,
      into: java.nio.file.Path, name: String): Unit = {
    val tmp = tmpBase.resolve(s"tmp-$name").toString
    df.filter(cond).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"staging $name produced no parquet part"))
    java.nio.file.Files.move(part.toPath, into.resolve(s"$name.parquet"))
    ()
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing")(spark, "/root/testdata/sf0.001")

  /** q170 oracle: DuckDB replay of the profile drift stats — one
    * template generates the per-column SQL so a single formula
    * defines both sides (baseline-anchored equi-width buckets,
    * clamped edges, Laplace-smoothed PSI — exactly
    * ProfileTransform.drift's arithmetic; bucket indices are pure
    * IEEE-double ops, identical in both engines). */
  private def driftOracleSql(cols: Seq[String], catCols: Seq[String],
      split: String, buckets: Int, catK: Int): String = {
    val t = s"TIMESTAMP '$split'"
    def one(c: String): String = s"""
      SELECT '$c' AS "column",
        (SELECT count(*) FROM events WHERE ts < $t) AS n_base,
        (SELECT count(*) FROM events WHERE ts >= $t) AS n_cur,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts < $t) AS nulls_base,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts >= $t) AS nulls_cur,
        round((SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts >= $t)
            - (SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts < $t), 6) AS nfd_r,
        round((SELECT avg(CAST($c AS DOUBLE)) FROM events
                 WHERE ts >= $t)
            - (SELECT avg(CAST($c AS DOUBLE)) FROM events
                 WHERE ts < $t), 6) AS mean_delta_r,
        (WITH eb AS (SELECT min(CAST($c AS DOUBLE)) mn,
                       max(CAST($c AS DOUBLE)) mx
                     FROM events WHERE ts < $t),
          hb AS (SELECT CAST(LEAST(GREATEST(FLOOR(
                   (CAST($c AS DOUBLE) - eb.mn) / (eb.mx - eb.mn)
                     * $buckets), 0), ${buckets - 1}) AS INT) i,
                   count(*) AS c
                 FROM events, eb
                 WHERE ts < $t AND $c IS NOT NULL GROUP BY 1),
          hc AS (SELECT CAST(LEAST(GREATEST(FLOOR(
                   (CAST($c AS DOUBLE) - eb.mn) / (eb.mx - eb.mn)
                     * $buckets), 0), ${buckets - 1}) AS INT) i,
                   count(*) AS c
                 FROM events, eb
                 WHERE ts >= $t AND $c IS NOT NULL GROUP BY 1),
          j AS (SELECT b.i, coalesce(hb.c, 0) cb, coalesce(hc.c, 0) cc
                FROM (SELECT unnest(range($buckets)) i) b
                LEFT JOIN hb ON hb.i = b.i LEFT JOIN hc ON hc.i = b.i),
          tt AS (SELECT sum(cb) nb, sum(cc) nc FROM j)
         SELECT round(sum(
             ((cc + 0.5) / (nc + ${buckets * 0.5})
               - (cb + 0.5) / (nb + ${buckets * 0.5}))
             * ln(((cc + 0.5) / (nc + ${buckets * 0.5}))
                 / ((cb + 0.5) / (nb + ${buckets * 0.5})))), 6)
         FROM j, tt) AS psi_r"""
    (cols.map(one) ++ catCols.map(driftCatOracleSql(_, split, catK)))
      .mkString(" UNION ALL ")
  }

  // categorical psi: baseline top-catK categories (count desc,
  // value asc) indexed 0..k-1, everything else (and anything new
  // in the current frame) in the other-bucket k; smoothing uses
  // the ACTUAL bucket count k+1. Shared by the exact and approx
  // drift oracles — the approx flag changes numeric bucketing only.
  private def driftCatOracleSql(c: String, split: String,
      catK: Int): String = {
    val t = s"TIMESTAMP '$split'"
    s"""
      SELECT '$c' AS "column",
        (SELECT count(*) FROM events WHERE ts < $t) AS n_base,
        (SELECT count(*) FROM events WHERE ts >= $t) AS n_cur,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts < $t) AS nulls_base,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts >= $t) AS nulls_cur,
        round((SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts >= $t)
            - (SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts < $t), 6) AS nfd_r,
        NULL AS mean_delta_r,
        (WITH cats AS (SELECT CAST($c AS VARCHAR) v, count(*) cnt
                       FROM events WHERE ts < $t AND $c IS NOT NULL
                       GROUP BY 1 ORDER BY cnt DESC, v ASC
                       LIMIT $catK),
          idx AS (SELECT v, row_number() OVER
                    (ORDER BY cnt DESC, v ASC) - 1 AS i FROM cats),
          kk AS (SELECT count(*) k FROM cats),
          hb AS (SELECT coalesce(i.i, (SELECT k FROM kk)) AS i,
                   count(*) AS c
                 FROM events e LEFT JOIN idx i
                   ON CAST(e.$c AS VARCHAR) = i.v
                 WHERE e.ts < $t AND e.$c IS NOT NULL GROUP BY 1),
          hc AS (SELECT coalesce(i.i, (SELECT k FROM kk)) AS i,
                   count(*) AS c
                 FROM events e LEFT JOIN idx i
                   ON CAST(e.$c AS VARCHAR) = i.v
                 WHERE e.ts >= $t AND e.$c IS NOT NULL GROUP BY 1),
          j AS (SELECT b.i, coalesce(hb.c, 0) cb, coalesce(hc.c, 0) cc
                FROM (SELECT unnest(range((SELECT k FROM kk) + 1)) i) b
                LEFT JOIN hb ON hb.i = b.i LEFT JOIN hc ON hc.i = b.i),
          tt AS (SELECT sum(cb) nb, sum(cc) nc,
                   (SELECT k FROM kk) + 1 AS bb FROM j)
         SELECT round(sum(
             ((cc + 0.5) / (nc + 0.5 * bb)
               - (cb + 0.5) / (nb + 0.5 * bb))
             * ln(((cc + 0.5) / (nc + 0.5 * bb))
                 / ((cb + 0.5) / (nb + 0.5 * bb)))), 6)
         FROM j, tt) AS psi_r"""
  }

  /** q175 oracle: the drift replay with APPROX (quantile-bucket)
    * numeric PSI. Edges replay DataSketches' inclusive quantile in
    * the exact regime: the value at the FIRST rank whose double
    * cast is >= (i/B)·n, with i/B and the product computed in
    * DOUBLE (an integer ceil diverges when the real product is
    * integral but the double product carries representation error —
    * 0.2 · 46845 lands at 9369.0000000000005 and DataSketches picks
    * rank 9370). bucket(v) = count of edges strictly below v; the
    * PSI fold and the categorical path are the exact twin's. */
  private def driftApproxOracleSql(cols: Seq[String],
      catCols: Seq[String], split: String, buckets: Int,
      catK: Int): String = {
    val t = s"TIMESTAMP '$split'"
    def one(c: String): String = s"""
      SELECT '$c' AS "column",
        (SELECT count(*) FROM events WHERE ts < $t) AS n_base,
        (SELECT count(*) FROM events WHERE ts >= $t) AS n_cur,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts < $t) AS nulls_base,
        (SELECT count(*) FILTER ($c IS NULL) FROM events
           WHERE ts >= $t) AS nulls_cur,
        round((SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts >= $t)
            - (SELECT count(*) FILTER ($c IS NULL) * 1.0 / count(*)
                 FROM events WHERE ts < $t), 6) AS nfd_r,
        round((SELECT avg(CAST($c AS DOUBLE)) FROM events
                 WHERE ts >= $t)
            - (SELECT avg(CAST($c AS DOUBLE)) FROM events
                 WHERE ts < $t), 6) AS mean_delta_r,
        (WITH bv AS (SELECT CAST($c AS DOUBLE) v FROM events
                     WHERE ts < $t AND $c IS NOT NULL
                       AND NOT isnan(CAST($c AS DOUBLE))),
          st AS (SELECT v, row_number() OVER (ORDER BY v) rn,
                   count(*) OVER () n FROM bv),
          ed AS (SELECT i.i, min(s.v) AS e
                 FROM (SELECT unnest(range(1, $buckets)) AS i) i
                 JOIN st s
                   ON CAST(s.rn AS DOUBLE) >=
                      (CAST(i.i AS DOUBLE) / $buckets) * s.n
                 GROUP BY i.i),
          cv AS (SELECT CAST($c AS DOUBLE) v FROM events
                 WHERE ts >= $t AND $c IS NOT NULL
                   AND NOT isnan(CAST($c AS DOUBLE))),
          hb AS (SELECT (SELECT count(*) FROM ed WHERE bv.v > ed.e)
                   AS i, count(*) AS c
                 FROM bv GROUP BY 1),
          hc AS (SELECT (SELECT count(*) FROM ed WHERE cv.v > ed.e)
                   AS i, count(*) AS c
                 FROM cv GROUP BY 1),
          j AS (SELECT b.i, coalesce(hb.c, 0) cb, coalesce(hc.c, 0) cc
                FROM (SELECT unnest(range($buckets)) i) b
                LEFT JOIN hb ON hb.i = b.i LEFT JOIN hc ON hc.i = b.i),
          tt AS (SELECT sum(cb) nb, sum(cc) nc FROM j)
         SELECT round(sum(
             ((cc + 0.5) / (nc + ${buckets * 0.5})
               - (cb + 0.5) / (nb + ${buckets * 0.5}))
             * ln(((cc + 0.5) / (nc + ${buckets * 0.5}))
                 / ((cb + 0.5) / (nb + ${buckets * 0.5})))), 6)
         FROM j, tt) AS psi_r"""
    (cols.map(one) ++ catCols.map(driftCatOracleSql(_, split, catK)))
      .mkString(" UNION ALL ")
  }

  /** q95 oracle: DuckDB replay of the zorder key — the same 8-bit
    * fixed-point scaling (multiply-then-divide, clamp) and the same
    * bit-interleave convention (first field owns the more significant
    * bit at each level) as SortTransform's zorder mode; generated so
    * one formula defines both sides. */
  private def zorderOracleSql: String = {
    val bits = 8
    val maxv = math.pow(2d, bits) - 1d // 255.0
    def scaledSql(c: String, mn: Double, mx: Double): String =
      s"CAST(LEAST(GREATEST(floor(((CAST($c AS DOUBLE) - $mn) * " +
        s"$maxv) / ${mx - mn}), 0.0), $maxv) AS BIGINT)"
    val sx = scaledSql("o_custkey", 0.0, 1500.0)
    val sy = scaledSql("o_totalprice", 0.0, 500000.0)
    val terms = (0 until bits).flatMap { l =>
      Seq(s"(((sx >> $l) & 1) << ${l * 2 + 1})",
        s"(((sy >> $l) & 1) << ${l * 2})")
    }
    s"""WITH sc AS (
         SELECT o_orderkey, o_custkey, o_totalprice,
           $sx AS sx, $sy AS sy FROM orders),
       z AS (
         SELECT o_orderkey, o_custkey, o_totalprice,
           ${terms.mkString(" | ")} AS zkey FROM sc)
       SELECT CAST(o_orderkey AS BIGINT) AS ok,
         row_number() OVER (
           ORDER BY zkey, o_custkey, o_totalprice, o_orderkey) - 1
           AS pos
       FROM z"""
  }

  /** q109 oracle: DuckDB replay of pagerank over the block-of-10
    * chain graph. Every vertex has in-degree ≤ 1, so no float
    * summation reorders and the engine's per-round arithmetic —
    * rank' = (1−d)/N + d·(rank_prev / outDeg) — is a deterministic
    * double recurrence the SQL unrolls per chain position
    * (position j reaches its fixed point after j+1 ≤ 10 rounds).
    * Generated so one recurrence defines both sides, like
    * zorderOracleSql. */
  private def pagerankOracleSql: String = {
    // all literals forced to DOUBLE: DuckDB otherwise evaluates
    // bare decimal literals in DECIMAL (1.0 − 0.85 = exactly 0.15),
    // one ulp off the JVM's binary 0.15000000000000002 — caught at
    // sf0.1 where the division lands on the other side of a rounding
    // boundary
    val positions = (1 until 10).scanLeft("b") {
      (prev, _) => s"(b + CAST(0.85 AS DOUBLE) * $prev)"
    }
    val cases = positions.zipWithIndex
      .map { case (e, j) => s"WHEN $j THEN $e" }.mkString("\n      ")
    s"""WITH nb AS (
         SELECT (1.0 - CAST(0.85 AS DOUBLE))
             / CAST(count(*) AS DOUBLE) AS b
         FROM orders)
       SELECT CAST(o_orderkey AS BIGINT) AS vertex,
         CASE CAST(o_orderkey % 10 AS INT)
      $cases
         END AS rank
       FROM orders, nb"""
  }

  // ---------------------------------------------------------------
  /** Every gate: the config-only ones from `gates/` and the code gates
    * below. Built once. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val code = codeGates
    val files = GateFiles.configs
    val dup = files.map(_._1).filter(code.contains)
    require(dup.isEmpty, s"gates both in gates/INDEX and in Scala: $dup")
    code ++ files.map { case (name, (out, config)) =>
      name -> (pipe(out, config) _) }
  }

  /** Closes the loopback servers the http and websocket gates start. */
  def closeFixtures(): Unit = Fixtures.closeFixtures()

  private def codeGates: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PERSISTABLE PQ index: action index encodes the corpus once and
    // writes (id, m-byte codes) + the codebook to storage; a second
    // pipeline queries THROUGH the stored index (indexInput/
    // codebookInput — the float corpus is never re-read). Equals the
    // direct PQ+lsh run, so the oracle is q187's full replay chain
    "q189_knn_pq_index" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q189_")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
""")
      Pipeline.build(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$base/codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: knn
    module: similarity
    inputs: [i, q, cb]
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5, indexInput: i, codebookInput: cb}
  - name: sel
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
""")("sel")
    }),

    // IVF-PQ persisted index (the FAISS-standard billion-vector
    // layout): action index with `centroids` stores each vector's
    // coarse cell next to its m-byte codes plus a `.centroids` side
    // output; the query pipeline probes nProbe cells and scores
    // reconstructions — coarse pruning AND 32× compression from one
    // stored artifact, all md5-replayable
    "q190_knn_ivfpq_index" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q190_")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, centroids: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
  - name: s3
    module: storage
    input: idx.centroids
    parameters: {output: "$base/cents", format: parquet}
""")
      Pipeline.build(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$base/codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: ct
    module: storage
    parameters: {path: "$base/cents"}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: knn
    module: similarity
    inputs: [i, q, cb, ct]
    parameters: {method: ivf, field: embedding, idField: vec_id, k: 5, nProbe: 6, indexInput: i, codebookInput: cb, centroidsInput: ct}
  - name: sel
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
""")("sel")
    }),

    // STREAMING index maintenance: new vectors arrive as a file
    // stream and encode against the PERSISTED codebook (action:
    // index + codebookInput — a stateless projection, so the stream
    // appends m-byte code rows to the stored index as it ingests).
    // Drained codes over both staged halves equal the batch encode:
    // the oracle replays codebook selection + per-subspace argmin
    "q191_stream_index_encode" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q191_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      // batch build persists the codebook once
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, hashAlgo: md5}
sinks:
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
""")
      stageBatch(emb, fexpr("vec_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: arrivals
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
transforms:
  - name: idx
    module: similarity
    inputs: [arrivals, cb]
    parameters: {action: index, field: embedding, idField: vec_id, codebookInput: cb}
sinks:
  - name: sk
    module: storage
    input: idx
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fexpr("vec_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      // surface the m uint8 codes as (vec_id, j, ci) rows for the
      // oracle compare (hex → per-subspace byte)
      s.read.parquet(out).selectExpr("vec_id",
        "posexplode(transform(sequence(0, 7), " +
          "j -> cast(conv(substr(hex(__pq), j*2+1, 2), 16, 10) " +
          "as int))) AS (j, ci)")
    }),

    // STREAMING IVF-PQ increment: arrivals encode against the
    // persisted codebook AND cell-assign against the persisted
    // coarse table (centroidsInput) — appended rows land in the
    // same cells the original build would give them, so ivf probes
    // of the stored index reach the increment. Cells assign over
    // the RECONSTRUCTION, matching the batch build and the q190
    // oracle's c_assign; the whole chain is md5-replayable
    "q203_stream_ivfpq_encode" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q203_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, centroids: 16, hashAlgo: md5}
sinks:
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
  - name: s3
    module: storage
    input: idx.centroids
    parameters: {output: "$base/cents", format: parquet}
""")
      stageBatch(emb, fexpr("vec_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: arrivals
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: ct
    module: storage
    parameters: {path: "$base/cents"}
transforms:
  - name: idx
    module: similarity
    inputs: [arrivals, cb, ct]
    parameters: {action: index, field: embedding, idField: vec_id, codebookInput: cb, centroidsInput: ct}
sinks:
  - name: sk
    module: storage
    input: idx
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fexpr("vec_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out).selectExpr("vec_id", "__cell AS cell",
        "posexplode(transform(sequence(0, 7), " +
          "j -> cast(conv(substr(hex(__pq), j*2+1, 2), 16, 10) " +
          "as int))) AS (j, ci)")
    }),

    // recall of the EXACT artifact being served: the approx side
    // reads q189-style persisted codes+codebook (indexInput, no
    // float corpus), the ground truth scores the raw corpus named
    // by corpusInput — closing the loop q189's equivalence proves
    // only for the query path. Same knobs as q195, so the stored
    // artifact must reproduce q195's recall numbers exactly
    "q198_recall_prebuilt" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q198_")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
""")
      Pipeline.build(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$base/codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: rec
    module: similarity
    inputs: [i, q, cb, emb]
    parameters: {action: recall, method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5, indexInput: i, codebookInput: cb, corpusInput: emb}
  - name: out
    module: select
    inputs: [rec]
    parameters:
      select:
        - {name: query_id}
        - {name: hits}
        - {name: exact_n}
        - {name: recall_r, expression: "round(recall, 6)"}
""")("out")
    }),

    // recall of the served IVF-PQ artifact: approx probes the
    // STORED cells (nProbe 2 of 16) and scores reconstructions from
    // the stored codes — recall measures coarse-miss + quantization
    // loss of exactly the persisted index, vs the corpusInput float
    // ground truth
    "q205_recall_ivfpq_prebuilt" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q205_")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, centroids: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
  - name: s3
    module: storage
    input: idx.centroids
    parameters: {output: "$base/cents", format: parquet}
""")
      Pipeline.build(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$base/codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: ct
    module: storage
    parameters: {path: "$base/cents"}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: rec
    module: similarity
    inputs: [i, q, cb, ct, emb]
    parameters: {action: recall, method: ivf, field: embedding, idField: vec_id, k: 5, nProbe: 2, indexInput: i, codebookInput: cb, centroidsInput: ct, corpusInput: emb}
  - name: out
    module: select
    inputs: [rec]
    parameters:
      select:
        - {name: query_id}
        - {name: hits}
        - {name: exact_n}
        - {name: recall_r, expression: "round(recall, 6)"}
""")("out")
    }),

    // §2.9 STREAMING calendar week windows in a DST zone: no fixed
    // week duration exists in America/New_York, so this runs the
    // dynamic-gap session-window path (streaming/Strategy.scala
    // calendar case) end-to-end — real file-stream source, watermark,
    // append-mode parquet sink. Only watermark-closed buckets flush;
    // the oracle drops the last (still-open) week. The January-only
    // testdata sits entirely in EST (UTC-5, no DST transition inside
    // the data), so the oracle's fixed -5h shift replays the zone
    // math exactly while the engine still runs full zone rules.
    "q70_calendar_week_stream" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q70_")
      val in = base.resolve("in").toString
      val out = base.resolve("out").toString
      // ONE input file → one micro-batch: a multi-file listing could
      // order a later-timestamp file first, and events arriving after
      // the watermark passed their window would be dropped
      s.read.parquet(s"$dir/events.parquet").coalesce(1)
        .write.mode("overwrite").parquet(in)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: calendar, unit: week, timezone: America/New_York}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields: [{name: n, op: count}]
  - name: sel
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: week_s, expression: "window.start / 1000000", type: int64}
        - {name: event_type}
        - {name: n}
sinks:
  - name: snk
    module: storage
    inputs: [sel]
    parameters: {path: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      // closed buckets are emitted by the post-watermark no-data
      // batch, which runs AFTER processAllAvailable returns — poll
      // until the sink is non-empty and stable across two reads
      def cnt(): Long =
        try s.read.parquet(out).count() catch { case _: Throwable => 0L }
      var stable = 0
      var prev = -1L
      var tries = 0
      while (stable < 5 && tries < 100) { // 1.5s of no growth
        Thread.sleep(300)
        StreamRunner.drainAll()
        val c = cnt()
        if (c > 0 && c == prev) stable += 1 else stable = 0
        prev = c
        tries += 1
      }
      StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.9 DISCARDING accumulation with early firings — the exact
    // pane engine (per-micro-batch re-aggregation, PaneRecipes):
    // events staged as three time-ordered files (split at Jan 11 /
    // Jan 21, both 6h-window boundaries, so no window straddles a
    // batch and no pane is late), drained one micro-batch at a time.
    // Each pane row is the aggregate of ONLY its batch's elements —
    // the oracle groups by the same ts-range batch key and must
    // reproduce the multiset exactly (a running/accumulating
    // aggregate would double-count and hash-mismatch); a pane is
    // early while its window ends after its batch's max event time,
    // ON_TIME otherwise.
    "q77_discarding_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q77_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions.lit("2024-01-11 00:00:00")
        .cast("timestamp")
      val t2 = org.apache.spark.sql.functions.lit("2024-01-21 00:00:00")
        .cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: discarding
      timestampField: ts
      window: {type: fixed, unit: hour, size: 6}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: panes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"))
    }),

    // §2.9 ACCUMULATING accumulation, exact pane engine:
    // batches split at Jan 11 03:00 — INSIDE a 6h window — so the
    // [Jan 11 00:00, 06:00) window fires an early pane from batch 1
    // and a cumulative ON_TIME pane when batch 2's clock closes
    // it. Pane ordinals derive from the sink's own prior output.
    // the copyfile sink driven end-to-end: nation written as two
    // parquet shards, their runtime paths fed through the
    // sourceField mode (per-record copies), and the COPIES read back
    // — a lossless roundtrip, so the oracle is the identity
    "q155_copyfile" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q155_")
      val src = base.resolve("src").toString
      val cp = base.resolve("cp").toString
      s.read.parquet(s"$dir/nation.parquet")
        .repartition(2).write.mode("overwrite").parquet(src)
      val parts = new java.io.File(src).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted
      val elems = parts.map(p => s"""        - {p: "$p"}""")
        .mkString("\n")
      Pipeline.execute(s, s"""
sources:
  - name: paths
    module: create
    parameters:
      elements:
$elems
      schema: {fields: [{name: p, type: string}]}
sinks:
  - name: cp
    module: copyfile
    inputs: [paths]
    parameters: {sourceField: p, destination: "$cp"}
""")
      s.read.parquet(cp)
    }),

    // q82's pipeline with a FULL STOP + RESTART from the checkpoint
    // between the second and third staged batches: the exact-pane
    // trigger state (event-time clock, fired windows) persists
    // as batch-stamped snapshots under the checkpoint, so the
    // restarted run must land on the IDENTICAL pane sequence the
    // q82 oracle derives from batch boundaries alone — the driver
    // gate for the r12-advice persistence work (StreamRunner
    // restore path), previously unit-only
    "q153_panes_restart" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q153_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      val cfg = s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: fixed, unit: hour, size: 6}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: rpanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
"""
      import graft.streaming.StreamRunner
      stage(1, ts < t1)
      Pipeline.execute(s, cfg)
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      // full stop: the JVM-side trigger bookkeeping is discarded;
      // only what was persisted under the checkpoint survives
      StreamRunner.stopAll()
      stage(3, ts >= t2)
      Pipeline.execute(s, cfg)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    "q82_accumulating_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q82_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: fixed, unit: hour, size: 6}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: apanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // q82's exact accumulating panes over CALENDAR-DAY windows in a
    // non-UTC timezone (Tokyo, fixed +9 — no DST in the fixture
    // month): drives the pane re-aggregation's calendar window
    // encoding (the streaming aggregate's offset fixed window)
    // end-to-end; the oracle reuses the q82 pane derivation with
    // local-midnight bucket bounds
    "q161_calendar_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q161_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: calendar, unit: day, timezone: Asia/Tokyo}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: calpanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // q161's calendar panes in a DST zone ACROSS the transition:
    // events shifted +89 days span Europe/Berlin's 2024-03-31
    // spring-forward (a 23-hour local day) — the streaming dynamic-
    // gap session encoding (which the pane re-aggregation shares)
    // and the exact engine's calendarEndOf horizons must both
    // bucket that day to the next local midnight (one UTC hour
    // early); the oracle replays the bucketing with DuckDB's ICU
    // timezone arithmetic (session-tz-independent two-arg timezone())
    "q167_calendar_dst_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round, expr}
      val base = graft.ops.FsUtil.scratchDir("graft_q167_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts") + expr("INTERVAL 89 DAYS"))
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      // q161's batch boundaries, shifted with the data
      val t1 = org.apache.spark.sql.functions
        .lit("2024-04-09 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-04-19 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: calendar, unit: day, timezone: Europe/Berlin}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: dstpanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // q82's exact panes over SLIDING windows (12h size, 6h period —
    // each element feeds two windows): drives the engine's sliding
    // store path, where the retention horizon is the LATEST
    // containing window's end and the per-firing re-aggregation is
    // pruned to the fired ends' contributing horizon partitions
    // (arithmetic candidate derivation, size = k·period). Oracle =
    // the q82 pane derivation over the event×window explosion.
    "q176_sliding_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q176_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: sliding, unit: hour, size: 12, period: 6}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: slpanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // q161's exact panes over an ANCHORED N-UNIT calendar window
    // (CalendarWindows.days(3).withStartingDay — size 3, startDate
    // 2024-01-02, Tokyo): drives the anchored fixed-window grid
    // end-to-end through the pane engines — the pane
    // re-aggregation's window encoding and the element store's
    // per-bucket retention horizons, both from that grid. The fixture
    // month starts BEFORE the anchor, so pre-anchor buckets are
    // exercised too. Oracle = the q82 pane
    // derivation over the anchored 3-day grid (anchor local-midnight
    // epoch 1704121200 = 2024-01-02T00:00+09:00).
    "q171_calendar_anchored_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round}
      val base = graft.ops.FsUtil.scratchDir("graft_q171_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: calendar, unit: day, size: 3, startDate: "2024-01-02", timezone: Asia/Tokyo}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: ancpanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // q167's DST-crossing panes over WEEK-OFFSET calendar buckets
    // (Beam startDayOfWeek: offset 2 from the epoch anchor →
    // Saturday-start weeks, Europe/Berlin): the spring-forward week
    // is 167 hours long, so the anchored local-date arithmetic
    // (calNBounds) must place its end one UTC hour early — the exact
    // class of the r15 week-offset mis-keying bug, now pinned
    // through the pane engines' clock/ordinal bookkeeping.
    "q172_calendar_weekoffset_panes" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col, round, expr}
      val base = graft.ops.FsUtil.scratchDir("graft_q172_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("ts", col("ts") + expr("INTERVAL 89 DAYS"))
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = col("ts").cast("timestamp")
      // q167's shifted batch boundaries
      val t1 = org.apache.spark.sql.functions
        .lit("2024-04-09 03:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-04-19 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      mode: accumulating
      timestampField: ts
      window: {type: calendar, unit: week, offset: 2, timezone: Europe/Berlin}
      trigger:
        type: afterWatermark
        earlyFiringTrigger:
          {type: afterProcessingTime, pastFirstElementDelay: 200,
           pastFirstElementDelayUnit: millisecond}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
sinks:
  - name: wkopanes
    module: storage
    input: agg
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out).select(
        col("window.start").cast("timestamp").cast("long").as("win_start"),
        col("event_type"), col("n"),
        round(col("total"), 4).as("total_r"),
        col("__pane").as("pane"), col("__pane_index").as("pane_idx"))
    }),

    // STREAMING Bernoulli sampling: fraction/stratified-rate mode is
    // a pure per-row md5-key predicate (no state, no shuffle), so it
    // streams as-is — ingest-time down-sampling. The drained union
    // over staged halves equals the batch md5 filter exactly
    // (reservoir mode stays batch-only, pinned by StreamGuardSpec)
    "q200_stream_sample" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q200_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageBatch(docs, fexpr("doc_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: smp
    module: sample
    inputs: [docs]
    parameters:
      keyFields: [doc_id]
      stratifyField: source
      fraction: 0.1
      rates: {src0: 1.0, src1: 0.5}
  - name: sel
    module: select
    inputs: [smp]
    parameters:
      select:
        - {name: doc_id}
        - {name: source}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fexpr("doc_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // STREAMING weighted mixture: every leg a single sampled pass
    // (weights ≤ 1.0 — the md5-bucket predicate is stateless), two
    // query streams unioned at ingest time. Drained output equals
    // the batch mix arithmetic with the same weights
    "q201_stream_mixture" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q201_")
      val inA = base.resolve("in-a"); inA.toFile.mkdirs()
      val inB = base.resolve("in-b"); inB.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageBatch(docs, fexpr("doc_id % 2 = 0 AND doc_id % 4 = 0"),
        base, inA, "a1")
      stageBatch(docs, fexpr("doc_id % 2 = 1 AND doc_id % 4 = 1"),
        base, inB, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: a
    module: storage
    parameters: {path: "$inA", format: parquet, stream: true}
  - name: b
    module: storage
    parameters: {path: "$inB", format: parquet, stream: true}
transforms:
  - name: mix
    module: mixture
    inputs: [a, b]
    parameters:
      weights: {a: 0.5, b: 1.0}
      keyFields: [doc_id]
      sourceField: mix_source
      epochField: mix_epoch
  - name: sel
    module: select
    inputs: [mix]
    parameters:
      select:
        - {name: doc_id}
        - {name: mix_source}
        - {name: mix_epoch, type: int32}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fexpr("doc_id % 2 = 0 AND doc_id % 4 = 2"),
        base, inA, "a2")
      stageBatch(docs, fexpr("doc_id % 2 = 1 AND doc_id % 4 = 3"),
        base, inB, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.2 csv writer OPTIONS roundtrip: gzip compression, a custom
    // separator, declared shard count, header — written by the sink,
    // read back by the source with a declared schema and the same
    // options; oracle = identity on orders. Converts the
    // writer-options surface from unit-only evidence to a gate.
    "q111_csv_options_roundtrip" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q111_").toString
      Pipeline.execute(s, s"""
sources:
  - name: ord
    module: storage
    parameters:
      path: "$dir/orders.parquet"
      fields: [o_orderkey, o_orderstatus, o_totalprice]
sinks:
  - name: snk
    module: storage
    input: ord
    parameters:
      output: "$base/csv"
      format: csv
      header: true
      compression: gzip
      numShards: 3
      options: {sep: ";"}
""")
      Pipeline.build(s, s"""
sources:
  - name: back
    module: storage
    parameters:
      path: "$base/csv"
      format: csv
      header: true
      options: {sep: ";"}
      schema:
        fields:
          - {name: o_orderkey, type: int64}
          - {name: o_orderstatus, type: string}
          - {name: o_totalprice, type: float64}
transforms:
  - name: out
    module: sql
    inputs: [back]
    parameters:
      sql: "SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price_r FROM back"
""", Map.empty)("out")
    }),

    // STREAMING multimodal: the decode/resize plumbing is a
    // stateless mapPartitions, so the q56 chain runs per micro-batch
    // with no state — media decoding at crawl-intake time. Drained
    // union over the staged halves equals the batch oracle
    "q193_stream_multimodal" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q193_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageBatch(docs, fexpr("doc_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: img
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: w, expression: "n_chars % 640 + 1", type: int64}
        - {name: h, expression: "doc_id % 480 + 1", type: int64}
        - {name: hdrs, func: text, text: "IMG:$${w}x$${h}x3:payload"}
        - {name: content, field: hdrs, type: bytes}
  - name: mm
    module: multimodal
    inputs: [img]
    parameters:
      ops:
        - {op: decode, field: content, name: meta}
        - {op: resize, field: content, name: content2, width: 64, height: 32}
        - {op: decode, field: content2, name: meta2}
  - name: sel
    module: select
    inputs: [mm]
    parameters:
      select:
        - {name: doc_id}
        - {name: width, field: meta.width, type: int64}
        - {name: height, field: meta.height, type: int64}
        - {name: channels, field: meta.channels, type: int64}
        - {name: ok, field: meta.ok}
        - {name: width2, field: meta2.width, type: int64}
        - {name: height2, field: meta2.height, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fexpr("doc_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // q194's STREAMING twin: real PNG generate/decode/resize per
    // micro-batch (stateless mapPartitions — media decode at
    // crawl-intake time with a genuine JDK codec); the drained
    // union over staged halves equals the batch arithmetic
    "q197_stream_multimodal_imageio" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q197_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageBatch(docs, fexpr("doc_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dims
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: w, expression: "doc_id % 24 + 4", type: int64}
        - {name: h, expression: "(doc_id * 7) % 16 + 3", type: int64}
  - name: mm
    module: multimodal
    inputs: [dims]
    parameters:
      ops:
        - {op: generate, widthField: w, heightField: h, seedField: doc_id, name: content}
        - {op: decode, field: content, name: meta}
        - {op: resize, field: content, name: thumb, width: 17, height: 11}
        - {op: decode, field: thumb, name: meta2}
  - name: sel
    module: select
    inputs: [mm]
    parameters:
      select:
        - {name: doc_id}
        - {name: width, field: meta.width, type: int64}
        - {name: height, field: meta.height, type: int64}
        - {name: channels, field: meta.channels, type: int64}
        - {name: format, field: meta.format}
        - {name: ok, field: meta.ok}
        - {name: width2, field: meta2.width, type: int64}
        - {name: height2, field: meta2.height, type: int64}
        - {name: format2, field: meta2.format}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fexpr("doc_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // storage avro CONTAINER FILES (not the q54 binary-column codec):
    // staged one-file-per-partition write (AvroFilesDynamic's commit
    // protocol), block-splittable AvroKeyInputFormat read — the
    // roundtrip is lossless so the oracle is the identity projection
    // on the source table
    "q57_avro_files" -> ((s: SparkSession, dir: String) => {
      val tmp = graft.ops.FsUtil.scratchDir("graft_q57_avro_")
        .toString
      Pipeline.execute(s, s"""
sources:
  - name: orders
    module: storage
    parameters: {path: "$dir/orders.parquet"}
transforms:
  - name: sel
    module: sql
    inputs: [orders]
    parameters:
      sql: "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
sinks:
  - name: wr
    module: storage
    input: sel
    parameters: {output: "$tmp", format: avro}
""")
      Pipeline.build(s, s"""
sources:
  - name: out
    module: storage
    parameters: {path: "$tmp", format: avro}
""")("out")
    }),

    // r8 avro destination parity: partitionFields write (one
    // container-file set per hive-style key=value subdir, fields
    // kept IN records) must roundtrip value-exact through the
    // splittable read
    "q63_avro_partitioned" -> ((s: SparkSession, dir: String) => {
      val tmp = graft.ops.FsUtil.scratchDir("graft_q63_avro_")
        .toString
      Pipeline.execute(s, s"""
sources:
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
transforms:
  - name: sel
    module: sql
    inputs: [cust]
    parameters:
      sql: "SELECT c_custkey, c_mktsegment, c_acctbal FROM cust"
sinks:
  - name: wr
    module: storage
    input: sel
    parameters:
      output: "$tmp"
      format: avro
      partitionFields: [c_mktsegment]
""")
      Pipeline.build(s, s"""
sources:
  - name: back
    module: storage
    parameters: {path: "$tmp/*/", format: avro}
transforms:
  - name: out
    module: sql
    inputs: [back]
    parameters:
      sql: "SELECT c_custkey, c_mktsegment, c_acctbal FROM back"
""")("out")
    }),

    // jdbc sink → jdbc source roundtrip against the embedded Derby
    // that ships with Spark (no extra jar): insert write, then a
    // keyField-split parallel read back (4 partition ranges over
    // c_custkey). Values must survive the dialect mapping both ways
    // (BIGINT/INTEGER/DOUBLE/VARCHAR-as-CLOB).
    "q64_jdbc_roundtrip" -> ((s: SparkSession, dir: String) => {
      System.setProperty("derby.stream.error.file",
        graft.ops.FsUtil.scratchRoot
          .resolve("graft_derby.log").toString)
      Pipeline.execute(s, s"""
sources:
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
sinks:
  - name: wr
    module: jdbc
    input: cust
    parameters:
      url: "jdbc:derby:memory:graftq64;create=true"
      table: customer_rt
      mode: overwrite
""")
      Pipeline.build(s, s"""
sources:
  - name: back
    module: jdbc
    parameters:
      url: "jdbc:derby:memory:graftq64"
      table: customer_rt
      keyField: c_custkey
      numPartitions: 4
      upperBound: "100000"
transforms:
  - name: out
    module: sql
    inputs: [back]
    parameters:
      sql: "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM back"
""")("out")
    }),

    // §2.1/§2.8 http source + transform against an in-process loopback
    // fixture (reference `source/HttpSource.java`,
    // `transform/HttpTransform.java`): the fixture serves JSON derived
    // from the sf tables, so both gates verify against a plain DuckDB
    // oracle over the same tables. One request (source) / one request
    // per nation row (transform) — bounded, loopback-only.
    "q71_http_source" -> ((s: SparkSession, dir: String) => {
      val rows = s.read.parquet(s"$dir/region.parquet")
        .select("r_regionkey", "r_name").orderBy("r_regionkey").collect()
      val payload = rows.map(r =>
        s"""{"r_regionkey":${r.getInt(0)},"r_name":"${jsonEscape(
          r.getString(1))}"}""")
        .mkString("""{"items":[""", ",", "]}")
      val port = fixturePort(s"q71|$dir")("/regions" -> (_ => payload))
      Pipeline.build(s, s"""
sources:
  - name: h
    module: http
    parameters:
      request: {endpoint: "http://127.0.0.1:$port/regions"}
      response:
        format: json
        schema:
          fields:
            - name: items
              type: array
              itemType:
                type: element
                fields:
                  - {name: r_regionkey, type: int32}
                  - {name: r_name, type: string}
transforms:
  - name: it
    module: select
    inputs: [h]
    parameters:
      select:
        - {name: items, field: body.items}
  - name: out
    module: unnest
    inputs: [it]
    parameters: {path: items}
""")("out")
    }),

    // the http SELECT FUNC (per-row templated GET, body as string) —
    // previously unit-only; the fixture endpoint computes a pure
    // function of the key, so the oracle replays it as string concat
    "q152_http_select" -> ((s: SparkSession, dir: String) => {
      val port = fixturePort(s"q152|$dir")("/echo" -> { q =>
        val x = q.split("&").map(_.split("=", 2))
          .map(a => a(0) -> a(1)).toMap.apply("x")
        s"val-$x"
      })
      Pipeline.build(s, s"""
sources:
  - name: nat
    module: storage
    parameters: {path: "$dir/nation.parquet"}
transforms:
  - name: out
    module: select
    inputs: [nat]
    parameters:
      select:
        - {name: n_nationkey}
        - {name: resp, func: http, text: "http://127.0.0.1:$port/echo?x=$${n_nationkey}"}
""")("out")
    }),

    "q72_http_transform" -> ((s: SparkSession, dir: String) => {
      val regions = s.read.parquet(s"$dir/region.parquet")
        .select("r_regionkey", "r_name").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      val port = fixturePort(s"q72|$dir")("/enrich" -> { q =>
        val kv = q.split("&").map(_.split("=", 2))
          .map(a => a(0) -> a(1)).toMap
        s"""{"nk":${kv("nk").toLong},"region":"${jsonEscape(
          regions(kv("rk").toInt))}"}"""
      })
      Pipeline.build(s, s"""
sources:
  - name: nat
    module: storage
    parameters: {path: "$dir/nation.parquet"}
transforms:
  - name: enr
    module: http
    inputs: [nat]
    parameters:
      request:
        endpoint: "http://127.0.0.1:$port/enrich"
        params:
          nk: "$${n_nationkey}"
          rk: "$${n_regionkey}"
      response:
        format: json
        schema:
          fields:
            - {name: nk, type: int64}
            - {name: region, type: string}
  - name: out
    module: select
    inputs: [enr]
    parameters:
      select:
        - {name: nk, field: body.nk}
        - {name: region_name, field: body.region}
""")("out")
    }),

    // §2.1 microbatch source (reference source/MicrobatchQuery.java):
    // ranged JDBC query per tick with the __EVENT_* range variables.
    // Customers are timestamped into a 2-minute band ending ~8 min ago
    // so the stream's first tick emits the whole gap-safe backlog —
    // the ranges partition the axis, so every row surfaces exactly
    // once and the drained output equals the seeded table.
    "q73_microbatch" -> ((s: SparkSession, dir: String) => {
      System.setProperty("derby.stream.error.file",
        graft.ops.FsUtil.scratchRoot
          .resolve("graft_derby.log").toString)
      val expected = s.read.parquet(s"$dir/customer.parquet").count()
      val anchor = System.currentTimeMillis() / 1000L - 600L
      val startIso = java.time.Instant.ofEpochSecond(anchor).toString
      Pipeline.execute(s, s"""
sources:
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
transforms:
  - name: enr
    module: select
    inputs: [cust]
    parameters:
      select:
        - {name: c_custkey}
        - {name: c_name}
        - {name: c_acctbal}
        - {name: ev_sec, expression: "$anchor + (c_custkey % 120)", type: int64}
sinks:
  - name: wr
    module: jdbc
    input: enr
    parameters:
      url: "jdbc:derby:memory:graftq73;create=true"
      table: cust_mb
      mode: overwrite
""")
      Pipeline.execute(s, s"""
sources:
  - name: mb
    module: microbatch
    parameters:
      url: "jdbc:derby:memory:graftq73"
      sql: 'SELECT "c_custkey", "c_name", "c_acctbal" FROM cust_mb WHERE "ev_sec" >= $${__EVENT_EPOCH_SECOND_PRE__} AND "ev_sec" < $${__EVENT_EPOCH_SECOND__}'
      startDatetime: "$startIso"
      intervalSecond: 60
      gapSecond: 30
sinks:
  - name: mbq73
    module: memory
    input: mb
""")
      import graft.streaming.StreamRunner
      try {
        var tries = 0
        while (tries < 150 &&
            s.sql("SELECT count(*) FROM mbq73").head().getLong(0)
              < expected) {
          StreamRunner.drainAll()
          Thread.sleep(200)
          tries += 1
        }
      } finally StreamRunner.stopAll()
      // materialize: the memory table's backing query is stopped, but
      // the accumulated rows remain readable
      s.sql("SELECT c_custkey, c_name, c_acctbal FROM mbq73")
    }),

    // §2.2 text sink, line mode: template-rendered lines written as a
    // distributed text dataset, read back via the text-format storage
    // source and re-parsed — the roundtrip equals the source table
    "q74_text_sink" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q74_")
        .toString
      Pipeline.execute(s, s"""
sources:
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
sinks:
  - name: txt
    module: text
    input: cust
    parameters:
      output: "$base/lines"
      template: "$${c_custkey},$${c_mktsegment},$${c_name}"
""")
      Pipeline.build(s, s"""
sources:
  - name: lines
    module: storage
    parameters: {path: "$base/lines", format: text}
transforms:
  - name: parsed
    module: deserialize
    inputs: [lines]
    parameters:
      format: csv
      field: value
      outputField: rec
      schema:
        fields:
          - {name: c_custkey, type: int64}
          - {name: c_mktsegment, type: string}
          - {name: c_name, type: string}
  - name: out
    module: select
    inputs: [parsed]
    parameters:
      select:
        - {name: c_custkey, field: rec.c_custkey}
        - {name: c_mktsegment, field: rec.c_mktsegment}
        - {name: c_name, field: rec.c_name}
""")("out")
    }),

    // §2.1 websocket source: the DSv2 micro-batch stream subscribes to
    // an in-process RFC 6455 fixture that serves nation rows as JSON
    // text frames; drained output equals the table
    "q75_websocket" -> ((s: SparkSession, dir: String) => {
      val rows = s.read.parquet(s"$dir/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val msgs = rows.map(r =>
        s"""{"k":${r.getInt(0)},"name":"${jsonEscape(r.getString(1))}","rk":${r.getInt(2)}}""")
        .toSeq
      val expected = rows.length
      val port = wsFixturePort(s"q75|$dir", msgs)
      Pipeline.execute(s, s"""
sources:
  - name: ws
    module: websocket
    parameters:
      endpoint: "ws://127.0.0.1:$port/"
      requests: [{action: subscribe, channel: nations}]
      format: json
      schema:
        fields:
          - {name: k, type: int64}
          - {name: name, type: string}
          - {name: rk, type: int64}
sinks:
  - name: wsq75
    module: memory
    input: ws
""")
      import graft.streaming.StreamRunner
      try {
        val deadline = System.currentTimeMillis() + 30000
        while (System.currentTimeMillis() < deadline &&
            s.sql("SELECT count(*) FROM wsq75").head().getLong(0)
              < expected) {
          StreamRunner.drainAll()
          Thread.sleep(200)
        }
      } finally StreamRunner.stopAll()
      s.sql("SELECT k, name, rk FROM wsq75")
    }),

    // §2.2 tfrecord: embeddings roundtrip through tf.Example container
    // files (ops/TFRecords — masked-crc32c framing + the reference
    // converter's type mapping); float arrays roundtrip bit-exactly.
    // The array is projected to an element-joined %.6f string so every
    // output column is scalar (the driver's pandas compare sorts by
    // value and cannot hash raw arrays); float32→double widening is
    // exact and no float32 is a 6-decimal halfway case, so Spark's
    // format_string and DuckDB's printf agree digit-for-digit.
    "q76_tfrecord" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q76_")
        .toString
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
sinks:
  - name: w
    module: storage
    input: emb
    parameters: {output: "$base/emb", format: tfrecord, numShards: 8}
""")
      Pipeline.build(s, s"""
sources:
  - name: out
    module: storage
    parameters:
      path: "$base/emb"
      format: tfrecord
      schema:
        fields:
          - {name: vec_id, type: int64}
          - {name: embedding, type: array, itemType: {type: float32}}
          - {name: label, type: int32}
""")("out")
        .selectExpr(
          "vec_id",
          "array_join(transform(embedding, x -> format_string('%.6f', x)), ',') AS emb_s",
          "label")
    }),

    // §2.8 sort transform, range mode: the driver compare is
    // order-blind (it sorts rows itself), so the gate converts the
    // engine's emitted ORDER into a value — zipWithIndex preserves
    // partition order (repartitionByRange assigns ascending ranges to
    // ascending partition ids) and within-partition order, so `pos`
    // IS the total order the engine produced. (o_totalprice,
    // o_orderkey) totally orders orders (o_orderkey is unique).
    "q91_sort_range" -> ((s: SparkSession, dir: String) => {
      val sorted = Pipeline.build(s, """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: sort
    inputs: [ord]
    parameters:
      mode: range
      numPartitions: 7
      fields:
        - {field: o_totalprice}
        - {field: o_orderkey}
""", Map("dir" -> dir))("out")
      val rows = sorted.select("o_orderkey").rdd.zipWithIndex()
        .map { case (r, i) => (r.getAs[Number](0).longValue(), i) }
      s.createDataFrame(rows).toDF("ok", "pos")
    }),

    // §2.5 as-of join, STREAMING left leg: the same sparse dimension
    // as q83, but the event side arrives as a file stream and the
    // match runs through the broadcast (key,time)-index path
    // (AsofJoinTransform.buildStreaming) instead of the union+window
    // batch plan; draining the stream must converge to the identical
    // DuckDB ASOF result
    // STREAMING exact dedup end-to-end: file-stream source →
    // watermarked first-seen-wins dropDuplicatesWithinWatermark →
    // parquet sink, drained. The kept representative row within one
    // micro-batch is partition-order-dependent, so the gate emits
    // only the dedup KEY — the deterministic surface — and the
    // oracle is the plain DISTINCT
    "q151_stream_dedup" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q151_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        in.resolve("ev.parquet"))
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [ev]
    strategy: {timestampField: ts, allowedLateness: 86400}
    parameters: {method: exact, field: event_type}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: event_type}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    "q92_asof_stream" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q92_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        in.resolve("ev.parquet"))
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: evb
    module: storage
    parameters: {path: "$dir/events.parquet"}
transforms:
  - name: dim
    module: sql
    inputs: [evb]
    parameters:
      sql: "SELECT event_type, ts AS dim_ts, max(value) AS ref_value FROM evb WHERE event_id % 37 = 0 GROUP BY event_type, ts"
  - name: aj
    module: asof
    inputs: [ev, dim]
    parameters: {by: [event_type], leftOn: ts, rightOn: dim_ts, direction: backward, tolerance: 2d}
  - name: sel
    module: select
    inputs: [aj]
    parameters:
      select:
        - {name: event_id}
        - {name: event_type}
        - {name: ref_r, expression: "round(right_ref_value, 4)"}
        - {name: gap_s, expression: "(ts - right_dim_ts) / 1000000"}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // the STREAMING interval join — q143's click-in-purchase-window
    // enrichment with the clicks arriving as a file stream against
    // the static binned windows. The stream-static equi-join on
    // (user, bin) is STATELESS (no watermark, no retained state;
    // each micro-batch joins independently), so draining the stream
    // must land on exactly the q143 batch oracle
    "q158_interval_stream" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q158_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      // two staged batches (even then odd event ids) prove the
      // cross-batch claim: a stateless join's drained union must
      // equal the batch join of the union
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, in, s"b$n")
      stage(1, "event_id % 2 = 0")
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: evb
    module: storage
    parameters: {path: "$dir/events.parquet"}
transforms:
  - name: clicks
    module: filter
    inputs: [ev]
    parameters:
      filter: [{key: event_type, op: "=", value: click}]
  - name: windows
    module: sql
    inputs: [evb]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evb WHERE event_type = 'purchase'"
  - name: jn
    module: join
    inputs: [clicks, windows]
    parameters:
      method: interval
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      binWidth: 1h
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(2, "event_id % 2 = 1")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // HTTP server mode driven END-TO-END (previously unit-only):
    // a real loopback POST /run executes a config on a clone of the
    // session — the reference's MPipelineServer lifecycle — and the
    // sink's parquet output is compared against a plain oracle
    "q159_server" -> ((s: SparkSession, dir: String) => {
      val srv = Server.start(s, 0)
      try {
        val port = srv.getAddress.getPort
        val out = graft.ops.FsUtil.scratchDir("graft_q159_").resolve("out").toString
        val cfg = s"""
sources:
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
transforms:
  - name: flt
    module: filter
    inputs: [cust]
    parameters:
      filter: [{key: c_acctbal, op: ">", value: 9000}]
sinks:
  - name: sk
    module: storage
    input: flt
    parameters: {output: "$out", format: parquet}
"""
        val url = java.net.URI
          .create(s"http://127.0.0.1:$port/run").toURL
        val conn = url.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(
          cfg.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        conn.getOutputStream.close()
        val code = conn.getResponseCode
        val body = new String(
          (if (code == 200) conn.getInputStream
           else conn.getErrorStream).readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        require(code == 200, s"POST /run -> $code: ${body.take(300)}")
        s.read.parquet(out)
          .selectExpr("c_custkey", "c_name",
            "format_string('%.2f', round(c_acctbal, 2) + 0.0d) AS bal")
      } finally srv.stop(0)
    }),

    // the CONFIG LIFECYCLE end-to-end (previously unit-only): one
    // run exercising declared args with ${args.k} cross-references,
    // caller context tag selection (a [dev]-tagged module that would
    // panic is skipped; untagged modules are ignored under a
    // context), and a sub-config import whose transform is
    // parameterized by the import's own args — against a plain
    // filter+group oracle
    "q164_config_lifecycle" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q164_")
      val sub = base.resolve("sub.yaml")
      java.nio.file.Files.write(sub,
        """transforms:
          |  - name: agg
          |    module: aggregation
          |    inputs: [flt]
          |    tags: [prod]
          |    parameters:
          |      groupFields:
          |        - ${args.grp}
          |      aggregations:
          |        - input: flt
          |          fields:
          |            - {name: n, op: count}
          |""".stripMargin.getBytes("UTF-8"))
      val cfg = s"""
args: {minbal: "9000", cut: "$${args.minbal}"}
system:
  imports:
    - base: "$base/"
      files: [sub.yaml]
      args: {grp: c_nationkey}
sources:
  - name: cust
    module: storage
    tags: [prod]
    parameters: {path: "$dir/customer.parquet"}
transforms:
  - name: flt
    module: filter
    inputs: [cust]
    tags: [prod]
    parameters:
      filter:
        - key: c_acctbal
          op: ">"
          value: $${args.cut}
  - name: sabotage
    module: select
    inputs: [cust]
    tags: [dev]
    parameters:
      select:
        - {name: boom, func: panic, message: "dev-only module ran under prod context"}
"""
      Pipeline.execute(s, cfg, Map.empty, Some("prod"))("agg")
    }),

    // alterConfig FALLBACK end-to-end (previously unit-only): the
    // primary config fails to build (unknown module), so the
    // declared alternate config executes instead — the reference's
    // MPipeline fallback lifecycle — and its output is what the
    // oracle checks
    "q165_alter_config" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q165_")
      val alter = base.resolve("alter.yaml")
      java.nio.file.Files.write(alter,
        s"""sources:
           |  - name: nat
           |    module: storage
           |    parameters: {path: "$dir/nation.parquet"}
           |transforms:
           |  - name: agg
           |    module: aggregation
           |    inputs: [nat]
           |    parameters:
           |      groupFields: [n_regionkey]
           |      aggregations:
           |        - input: nat
           |          fields:
           |            - {name: n, op: count}
           |""".stripMargin.getBytes("UTF-8"))
      val cfg = s"""
system:
  failure: {alterConfig: "$alter"}
sources:
  - name: broken
    module: no_such_module
    parameters: {}
"""
      Pipeline.execute(s, cfg)("agg")
    }),

    // STREAM-STREAM interval join — q143's enrichment with BOTH
    // sides arriving as file streams, staged so half the matches
    // span micro-batches (left evens + right odds first, then the
    // complements): the symmetric hash join's retained state must
    // produce them. Watermarks are set beyond the fixture's span so
    // nothing drops and the drained result equals the batch oracle
    // exactly; maxIntervalSpan mirrors the 2h window length
    "q163_interval_ss" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q163_")
      val inL = base.resolve("inL"); inL.toFile.mkdirs()
      val inR = base.resolve("inR"); inR.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(into: java.nio.file.Path, n: String,
          cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, into, n)
      stage(inL, "l1", "event_id % 2 = 0")
      stage(inR, "r1", "event_id % 2 = 1")
      Pipeline.execute(s, s"""
sources:
  - name: evl
    module: storage
    parameters: {path: "$inL", format: parquet, stream: true}
  - name: evr
    module: storage
    parameters: {path: "$inR", format: parquet, stream: true}
transforms:
  - name: clicks
    module: sql
    inputs: [evl]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM evl WHERE event_type = 'click' AND user_id % 3 = 0"
  - name: wins
    module: sql
    inputs: [evr]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evr WHERE event_type = 'purchase' AND user_id % 3 = 0"
  - name: jn
    module: join
    inputs: [clicks, wins]
    parameters:
      method: interval
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      maxIntervalSpan: 2h
      leftWatermark: 60d
      rightWatermark: 60d
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(inL, "l2", "event_id % 2 = 1")
      stage(inR, "r2", "event_id % 2 = 0")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.5 interval join, STREAM-STREAM how: left — Spark's native
    // left-outer defers an unmatched left row's null emission until
    // BOTH watermarks pass the point it could still match (state
    // eviction), so a bounded drain must END with watermark-advancing
    // sentinel batches: two far-future rows per side (the second
    // batch applies the watermark the first one raised) that pass the
    // pre-join filters but are excluded from the result (event_id<0 —
    // and being the stream's frontier, they themselves never flush).
    // Real data is staged in TIME-split batches (split chosen so one
    // match straddles it — cross-micro-batch state is exercised) with
    // the watermark delay (3d) wider than any stage gap, so nothing
    // real is late-dropped and the drained union equals the batch
    // LEFT join exactly.
    "q166_interval_ss_left" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{lit => flit}
      val base = graft.ops.FsUtil.scratchDir("graft_q166_")
      val inL = base.resolve("inL"); inL.toFile.mkdirs()
      val inR = base.resolve("inR"); inR.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      val split = "ts < timestamp '2024-01-14 11:00:00'"
      def stage(into: java.nio.file.Path, n: String,
          cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, into, n)
      def sentinel(into: java.nio.file.Path, n: String, id: Long,
          et: String, ts: String): Unit =
        stageBatch(
          ev.limit(1)
            .withColumn("event_id", flit(id))
            // cast to the SOURCE's own ts type (timestamp_ntz): a
            // tz-typed sentinel column reads back null under the
            // stream's inferred schema and never advances the
            // watermark
            .withColumn("ts", flit(ts).cast(ev.schema("ts").dataType))
            .withColumn("user_id", flit(0L))
            .withColumn("event_type", flit(et)),
          flit(true), base, into, n)
      stage(inL, "l1", split)
      stage(inR, "r1", split)
      Pipeline.execute(s, s"""
sources:
  - name: evl
    module: storage
    parameters: {path: "$inL", format: parquet, stream: true}
  - name: evr
    module: storage
    parameters: {path: "$inR", format: parquet, stream: true}
transforms:
  - name: clicks
    module: sql
    inputs: [evl]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM evl WHERE event_type = 'click' AND user_id % 3 = 0"
  - name: wins
    module: sql
    inputs: [evr]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evr WHERE event_type = 'purchase' AND user_id % 3 = 0"
  - name: jn
    module: join
    inputs: [clicks, wins]
    parameters:
      method: interval
      how: left
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      maxIntervalSpan: 2h
      leftWatermark: 3d
      rightWatermark: 3d
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(inL, "l2", s"NOT ($split)")
      stage(inR, "r2", s"NOT ($split)")
      graft.streaming.StreamRunner.drainAll()
      sentinel(inL, "l3", -1L, "click", "2024-06-01 00:00:00")
      sentinel(inR, "r3", -1L, "purchase", "2024-06-01 00:00:00")
      // outer null rows flush in a no-NEW-DATA state-cleanup batch
      // that runs once the watermark advanced — processAllAvailable
      // does not wait for it, so wait CAUSALLY: block until a
      // micro-batch has executed with the sentinel-advanced
      // watermark (2024-06-01 − 3d lateness = 05-29; threshold 05-28
      // sits safely between the data horizon and it). Under-advance
      // fails loudly at the timeout instead of silently truncating.
      graft.streaming.StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2024-05-28T00:00:00Z"))
      graft.streaming.StreamRunner.stopAll()
      // sentinel exclusion happens BATCH-side, after the drain: an
      // in-pipeline filter on a left column would be pushed through
      // the left-outer join into the left stream's SCAN (left-column
      // filters are LOJ-pushable), silently dropping the sentinels
      // before the watermark node ever saw them — the watermark then
      // never advanced and no null row flushed
      s.read.parquet(out).filter("event_id >= 0")
    }),

    // q166's mirror: stream-stream interval `how: right` — Spark's
    // symmetric hash join defers the RIGHT side's unmatched rows to
    // the watermark; same staged halves + sentinel drain. Sentinel
    // exclusion filters on the RIGHT id (every sentinel-derived row
    // carries wid −1, including the sentinel-pair match; real
    // unmatched right rows have a null LEFT id, so an event_id
    // filter would eat them)
    "q173_interval_ss_right" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{lit => flit}
      val base = graft.ops.FsUtil.scratchDir("graft_q173_")
      val inL = base.resolve("inL"); inL.toFile.mkdirs()
      val inR = base.resolve("inR"); inR.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      val split = "ts < timestamp '2024-01-14 11:00:00'"
      def stage(into: java.nio.file.Path, n: String,
          cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, into, n)
      def sentinel(into: java.nio.file.Path, n: String, id: Long,
          et: String, ts: String): Unit =
        stageBatch(
          ev.limit(1)
            .withColumn("event_id", flit(id))
            .withColumn("ts", flit(ts).cast(ev.schema("ts").dataType))
            .withColumn("user_id", flit(0L))
            .withColumn("event_type", flit(et)),
          flit(true), base, into, n)
      stage(inL, "l1", split)
      stage(inR, "r1", split)
      Pipeline.execute(s, s"""
sources:
  - name: evl
    module: storage
    parameters: {path: "$inL", format: parquet, stream: true}
  - name: evr
    module: storage
    parameters: {path: "$inR", format: parquet, stream: true}
transforms:
  - name: clicks
    module: sql
    inputs: [evl]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM evl WHERE event_type = 'click' AND user_id % 3 = 0"
  - name: wins
    module: sql
    inputs: [evr]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evr WHERE event_type = 'purchase' AND user_id % 3 = 0"
  - name: jn
    module: join
    inputs: [clicks, wins]
    parameters:
      method: interval
      how: right
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      maxIntervalSpan: 2h
      leftWatermark: 3d
      rightWatermark: 3d
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(inL, "l2", s"NOT ($split)")
      stage(inR, "r2", s"NOT ($split)")
      graft.streaming.StreamRunner.drainAll()
      sentinel(inL, "l3", -1L, "click", "2024-06-01 00:00:00")
      sentinel(inR, "r3", -1L, "purchase", "2024-06-01 00:00:00")
      graft.streaming.StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2024-05-28T00:00:00Z"))
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out).filter("window_id >= 0")
    }),

    // q166/q173 composed: stream-stream interval `how: full` — BOTH
    // sides' unmatched rows defer to the watermark and null-pad on
    // eviction. Sentinel exclusion keeps null ids on either side
    // (those are the real unmatched rows) and drops only rows
    // carrying a sentinel id
    "q174_interval_ss_full" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{lit => flit}
      val base = graft.ops.FsUtil.scratchDir("graft_q174_")
      val inL = base.resolve("inL"); inL.toFile.mkdirs()
      val inR = base.resolve("inR"); inR.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      val split = "ts < timestamp '2024-01-14 11:00:00'"
      def stage(into: java.nio.file.Path, n: String,
          cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, into, n)
      def sentinel(into: java.nio.file.Path, n: String, id: Long,
          et: String, ts: String): Unit =
        stageBatch(
          ev.limit(1)
            .withColumn("event_id", flit(id))
            .withColumn("ts", flit(ts).cast(ev.schema("ts").dataType))
            .withColumn("user_id", flit(0L))
            .withColumn("event_type", flit(et)),
          flit(true), base, into, n)
      stage(inL, "l1", split)
      stage(inR, "r1", split)
      Pipeline.execute(s, s"""
sources:
  - name: evl
    module: storage
    parameters: {path: "$inL", format: parquet, stream: true}
  - name: evr
    module: storage
    parameters: {path: "$inR", format: parquet, stream: true}
transforms:
  - name: clicks
    module: sql
    inputs: [evl]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM evl WHERE event_type = 'click' AND user_id % 3 = 0"
  - name: wins
    module: sql
    inputs: [evr]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evr WHERE event_type = 'purchase' AND user_id % 3 = 0"
  - name: jn
    module: join
    inputs: [clicks, wins]
    parameters:
      method: interval
      how: full
      by: [user_id]
      leftOn: ts
      rightStart: s
      rightEnd: e
      maxIntervalSpan: 2h
      leftWatermark: 3d
      rightWatermark: 3d
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(inL, "l2", s"NOT ($split)")
      stage(inR, "r2", s"NOT ($split)")
      graft.streaming.StreamRunner.drainAll()
      sentinel(inL, "l3", -1L, "click", "2024-06-01 00:00:00")
      sentinel(inR, "r3", -1L, "purchase", "2024-06-01 00:00:00")
      graft.streaming.StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2024-05-28T00:00:00Z"))
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out).filter(
        "(event_id IS NULL OR event_id >= 0) AND " +
          "(window_id IS NULL OR window_id >= 0)")
    }),

    // STREAMING minhash-LSH near-dedup: watermark-bounded band-bucket
    // owner state flags each arrival near-duplicating anything seen
    // within the horizon, emitting per-band candidate rows — the
    // crawl-intake shape (no corpus re-scan). Staged as two
    // time-ordered halves (ts rides doc_id) with the horizon covering
    // the whole fixture, so the drained candidates equal the batch
    // md5-minhash LSH replay: per (band, bucket), every member beyond
    // the minimum points at it
    "q178_stream_lsh_dedup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q178_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      // synthetic event time monotone in doc_id: arrival order then
      // matches event time across the staged halves, so first-seen
      // owners are exactly the bucket minima the batch oracle elects
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: minhash, field: text, idField: doc_id, hashAlgo: md5}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id, type: int64}
        - {name: band_idx, field: __band_idx}
        - {name: dup_of, field: __dup_of, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // STREAMING embedding near-dedup: q178's shape with hyperplane
    // buckets and a cosine verify at arrival (the owner's embedding
    // rides in the bucket state). Same staging invariant: ts rides
    // vec_id, horizon covers the fixture, so drained candidates equal
    // the batch md5-plane replay (q22's oracle chain restricted to
    // verified pairs)
    "q179_stream_embedding_dedup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q179_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + vec_id)"))
      val mid = emb.agg(fexpr("percentile(vec_id, 0.5)")).head.getDouble(0)
      stageBatch(emb, fcol("vec_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [emb]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: embedding, field: embedding, idField: vec_id, threshold: 0.15, planes: 4, hashAlgo: md5}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: vec_id, type: int64}
        - {name: dup_of, field: __dup_of, type: int64}
        - {name: cosine, expression: "round(__cosine, 6)"}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fcol("vec_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // the verdicts composition over the EMBEDDING streaming path:
    // q179's drained verified candidates reduce per-doc and left-
    // join the corpus — with one hyperplane bucket per vector the
    // reduce is the identity on dup_of, so this pins the corpus-join
    // / type-restoration half on the third near-dedup family
    "q188_stream_embedding_verdicts" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q188_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + vec_id)"))
      val mid = emb.agg(fexpr("percentile(vec_id, 0.5)")).head.getDouble(0)
      stageBatch(emb, fcol("vec_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [emb]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: embedding, field: embedding, idField: vec_id, threshold: 0.15, planes: 4, hashAlgo: md5}
sinks:
  - name: sk
    module: storage
    input: dd
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fcol("vec_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      Pipeline.build(s, s"""
sources:
  - name: cand
    module: storage
    parameters: {path: "$out", format: parquet}
  - name: corpus
    module: storage
    parameters: {path: "$dir/embeddings.parquet", format: parquet}
transforms:
  - name: vd
    module: dedup
    inputs: [cand, corpus]
    parameters: {method: verdicts, idField: vec_id}
  - name: sel
    module: select
    inputs: [vd]
    parameters:
      select:
        - {name: vec_id}
        - {name: dup_of, field: __dup_of, type: int64}
""")("sel")
    }),

    // STREAMING decontaminate: the corpus streams against the static
    // benchmark via a per-row membership check (map-side, stateless,
    // no watermark — each micro-batch flags independently), so the
    // drained union over any staging split equals q48's batch oracle.
    // This was advertised as the streamable dedup method but its
    // batch plan (distinct hit ids + join-back) failed at sink start
    "q180_stream_decontaminate" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q180_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageBatch(docs, fexpr("doc_id % 2 = 0"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: docsb
    module: storage
    parameters: {path: "$dir/documents.parquet"}
transforms:
  - name: bench
    module: sql
    inputs: [docsb]
    parameters:
      sql: "SELECT doc_id, text FROM docsb WHERE doc_id % 97 = 0"
  - name: dd
    module: dedup
    inputs: [docs, bench]
    parameters: {method: decontaminate, field: text, idField: doc_id, ngramSize: 8}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: contaminated, field: __contaminated}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fexpr("doc_id % 2 = 1"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // STREAMING ANN queries against the STATIC corpus index — q24's
    // md5-LSH knn with the five query vectors arriving as a file
    // stream in two staged batches. Stateless end-to-end: the query
    // stream carries its embedding through a stream-static bucket
    // join and the per-query top-k reduces inside each micro-batch
    // (repartition + per-partition map), so the drained union equals
    // the batch oracle exactly
    "q181_stream_knn" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q181_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      stageBatch(emb, fexpr("vec_id < 3"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: q
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb, q]
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5}
  - name: sel
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fexpr("vec_id >= 3 AND vec_id < 5"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // q181 with the PRODUCT-QUANTIZED corpus index (pqM: 8): the
    // static side pinned across micro-batches holds only m-byte
    // codes; corpus vectors reconstruct from the md5-seeded
    // codebooks for bucketing AND scoring, so the whole chain —
    // codebook, codes, reconstruction, buckets, cosine — replays in
    // the oracle. Pins that the PQ index composes with the
    // streaming query path (billion-vector index + live queries)
    "q187_stream_knn_pq" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q187_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      stageBatch(emb, fexpr("vec_id < 3"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: q
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb, q]
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5, pqM: 8, pqCodebookSize: 16}
  - name: sel
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fexpr("vec_id >= 3 AND vec_id < 5"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // the full SERVING shape: streaming queries against the
    // PERSISTED index — stored codes + codebook read back
    // (indexInput/codebookInput), no fit, the float corpus never
    // read by the query job; each staged query batch takes route()'s
    // stream-static leg against the pinned stored index. Drained
    // union over the halves equals q187's chain (and the batch
    // indexInput run, q189)
    "q199_stream_knn_prebuilt" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q199_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: idx
    module: similarity
    inputs: [emb]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
""")
      stageBatch(emb, fexpr("vec_id < 3"), base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$base/codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: q
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: knn
    module: similarity
    inputs: [i, q, cb]
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5, indexInput: i, codebookInput: cb}
  - name: sel
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(emb, fexpr("vec_id >= 3 AND vec_id < 5"), base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // STREAMING ngram near-dedup: q178's banding with an EXACT
    // char-5-gram Jaccard verify against the bucket owner's text
    // (owner text rides in state) — 850 band collisions at sf0.01,
    // 154 surviving the 0.7 verify, so the gate covers accept AND
    // reject paths. Same staging invariant as q178
    "q183_stream_ngram_dedup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q183_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: ngram, field: text, idField: doc_id, ngramSize: 5, threshold: 0.7, hashAlgo: md5}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id, type: int64}
        - {name: band_idx, field: __band_idx}
        - {name: dup_of, field: __dup_of, type: int64}
        - {name: jacc, expression: "round(__jaccard, 6)"}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // stream → candidates → VERDICTS composition: q178's streaming
    // minhash pipeline drained, then the dedup `verdicts` batch mode
    // reduces the per-band candidate rows (min __dup_of per doc) and
    // left-joins them back onto the corpus — reproducing the batch
    // dedup output shape end-to-end. Oracle = q20's per-doc reduce:
    // the composed output must hash-match batch minhash dedup's flags
    "q184_stream_dedup_verdicts" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q184_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: minhash, field: text, idField: doc_id, hashAlgo: md5}
sinks:
  - name: sk
    module: storage
    input: dd
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      Pipeline.build(s, s"""
sources:
  - name: cand
    module: storage
    parameters: {path: "$out", format: parquet}
  - name: corpus
    module: storage
    parameters: {path: "$dir/documents.parquet", format: parquet}
transforms:
  - name: vd
    module: dedup
    inputs: [cand, corpus]
    parameters: {method: verdicts, idField: doc_id}
  - name: sel
    module: select
    inputs: [vd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
""")("sel")
    }),

    // bare verdicts (NO corpus input): the reduce emits the verdict
    // rows themselves, and idType int64 restores NUMERIC min over
    // the drained string ids — the branch where a missing idType
    // would silently elect lexicographic owners ('10' < '9')
    "q206_verdicts_idtype" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q206_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: minhash, field: text, idField: doc_id, hashAlgo: md5}
sinks:
  - name: sk
    module: storage
    input: dd
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      Pipeline.build(s, s"""
sources:
  - name: cand
    module: storage
    parameters: {path: "$out", format: parquet}
transforms:
  - name: vd
    module: dedup
    inputs: [cand]
    parameters: {method: verdicts, idField: doc_id, idType: int64}
  - name: sel
    module: select
    inputs: [vd]
    parameters:
      select:
        - {name: doc_id, type: int64}
        - {name: dup_of, field: __dup_of, type: int64}
""")("sel")
    }),

    // STREAMING winnow near-dedup: the split-fixture drain (q183's
    // choreography) over method: winnow — fingerprint-bucket owners
    // with the at-arrival fingerprint-set Jaccard verify. Arrival
    // order is globally id-ascending (ts = base + doc_id, batches
    // split at the median), so every bucket's owner is its minimum
    // member and the drained candidates equal the batch winnow
    // member-vs-bucket-min verified pairs — the md5 chain replays
    "q208_stream_winnow_dedup" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q208_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: winnow, field: text, idField: doc_id, threshold: 0.5, hashAlgo: md5}
  - name: sel
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id, type: int64}
        - {name: fp, field: __fp}
        - {name: dup_of, field: __dup_of, type: int64}
        - {name: jacc, expression: "round(__jaccard, 6)"}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // recall of an INCREMENTED index: base IVF-PQ build on the even
    // vectors, a batch increment (codebookInput + centroidsInput —
    // the guards' happy path) APPENDS the odd vectors' codes into
    // the same index dir, and a one-pass full encode with the SAME
    // stored artifacts builds the reference. `action: recall` runs
    // over both; the incremented artifact's recall must equal the
    // full build's per query (one oracle chain emits both columns)
    "q209_recall_incremented" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q209_")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: evens
    module: filter
    inputs: [emb]
    parameters:
      filter: [{expression: "vec_id % 2", op: "=", value: 0}]
  - name: idx
    module: similarity
    inputs: [evens]
    parameters: {action: index, field: embedding, idField: vec_id, pqM: 8, pqCodebookSize: 16, centroids: 16, hashAlgo: md5}
sinks:
  - name: s1
    module: storage
    input: idx
    parameters: {output: "$base/codes", format: parquet}
  - name: s2
    module: storage
    input: idx.codebook
    parameters: {output: "$base/cb", format: parquet}
  - name: s3
    module: storage
    input: idx.centroids
    parameters: {output: "$base/cents", format: parquet}
""")
      Pipeline.execute(s, s"""
sources:
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: ct
    module: storage
    parameters: {path: "$base/cents"}
transforms:
  - name: odds
    module: filter
    inputs: [emb]
    parameters:
      filter: [{expression: "vec_id % 2", op: "=", value: 1}]
  - name: inc
    module: similarity
    inputs: [odds, cb, ct]
    parameters: {action: index, field: embedding, idField: vec_id, codebookInput: cb, centroidsInput: ct}
  - name: full
    module: similarity
    inputs: [emb, cb, ct]
    parameters: {action: index, field: embedding, idField: vec_id, codebookInput: cb, centroidsInput: ct}
sinks:
  - name: s1
    module: storage
    input: inc
    parameters: {output: "$base/codes", format: parquet, mode: append}
  - name: s2
    module: storage
    input: full
    parameters: {output: "$base/codesFull", format: parquet}
""")
      def recallOver(codes: String, out: String): Unit =
        Pipeline.execute(s, s"""
sources:
  - name: i
    module: storage
    parameters: {path: "$codes"}
  - name: cb
    module: storage
    parameters: {path: "$base/cb"}
  - name: ct
    module: storage
    parameters: {path: "$base/cents"}
  - name: emb
    module: storage
    parameters: {path: "$dir/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: rec
    module: similarity
    inputs: [i, q, cb, ct, emb]
    parameters: {action: recall, method: ivf, field: embedding, idField: vec_id, k: 5, nProbe: 2, indexInput: i, codebookInput: cb, centroidsInput: ct, corpusInput: emb}
sinks:
  - name: sk
    module: storage
    input: rec
    parameters: {output: "$out", format: parquet}
""")
      recallOver(s"$base/codes", s"$base/recInc")
      recallOver(s"$base/codesFull", s"$base/recFull")
      val inc = s.read.parquet(s"$base/recInc")
        .selectExpr("query_id", "hits AS hits_inc", "exact_n",
          "round(recall, 6) AS recall_inc")
      val full = s.read.parquet(s"$base/recFull")
        .selectExpr("query_id AS qf", "hits AS hits_full",
          "round(recall, 6) AS recall_full")
      inc.join(full, inc("query_id") === full("qf")).drop("qf")
    }),

    // the same composition over the VERIFIED ngram streaming path:
    // q183's drained candidates (exact Jaccard >= 0.7 at arrival)
    // reduce to per-doc verdicts and left-join the corpus — oracle is
    // q183's replay chain with the per-doc min folded in
    "q185_stream_ngram_verdicts" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{col => fcol, expr => fexpr}
      val base = graft.ops.FsUtil.scratchDir("graft_q185_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("ts",
          fexpr("timestamp_seconds(1700000000 + doc_id)"))
      val mid = docs.agg(fexpr("percentile(doc_id, 0.5)")).head.getDouble(0)
      stageBatch(docs, fcol("doc_id") <= mid, base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    strategy: {timestampField: ts, allowedLateness: 315360000}
    parameters: {method: ngram, field: text, idField: doc_id, ngramSize: 5, threshold: 0.7, hashAlgo: md5}
sinks:
  - name: sk
    module: storage
    input: dd
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(docs, fcol("doc_id") > mid, base, in, "b2")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      Pipeline.build(s, s"""
sources:
  - name: cand
    module: storage
    parameters: {path: "$out", format: parquet}
  - name: corpus
    module: storage
    parameters: {path: "$dir/documents.parquet", format: parquet}
transforms:
  - name: vd
    module: dedup
    inputs: [cand, corpus]
    parameters: {method: verdicts, idField: doc_id, dupField: __dup_of}
  - name: sel
    module: select
    inputs: [vd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
""")("sel")
    }),

    // STREAMING drift monitor: q170's PSI drift with the CURRENT
    // side arriving as a stream — per calendar-day window, one
    // windowed streaming aggregate carries the fixed conditional
    // sums and PSI folds post-agg as a Column program against the
    // static baseline's literal proportions. Time-ordered staged
    // halves; a far-future sentinel plus the causal watermark drain
    // closes every real window (append mode never closes the last
    // one otherwise); the sentinel's own window is filtered batch-
    // side. Oracle replays the same formula per day bucket
    "q182_stream_drift" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr, lit => flit}
      val base = graft.ops.FsUtil.scratchDir("graft_q182_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      // ONE staged data batch (the oracle is per-window; splitting
      // the current side across drains only added ~3 s of drain
      // choreography), then the sentinel + causal drain close every
      // real window
      stageBatch(ev, fexpr("ts >= timestamp'2024-01-15'"),
        base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: cur
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: ev
    module: storage
    parameters: {path: "$dir/events.parquet"}
transforms:
  - name: b
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts < TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: dr
    module: profile
    inputs: [cur, b]
    strategy: {timestampField: ts, allowedLateness: 60, window: {type: fixed, size: 86400}}
    parameters:
      baselineInput: b
      fields: [value, event_type]
      psiBuckets: 10
      psiCategories: 20
  - name: sel
    module: sql
    inputs: [dr]
    parameters:
      sql: "SELECT date_format(window_start, 'yyyy-MM-dd') AS day, `column`, n_base, n_cur, nulls_base, nulls_cur, round(null_frac_delta, 6) AS nfd_r, round(mean_delta, 6) AS mean_delta_r, round(psi, 6) AS psi_r FROM dr WHERE window_start < timestamp'2030-01-01'"
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      // sentinel closes every real window once the watermark passes
      stageBatch(ev.limit(1)
          .withColumn("event_id", flit(-1L))
          .withColumn("ts",
            flit("2099-06-01 00:00:00").cast(ev.schema("ts").dataType)),
        flit(true), base, in, "b2")
      graft.streaming.StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2099-05-01T00:00:00Z"))
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // the STREAMING drift monitor under the approx (KLL quantile-
    // bucket + frequent-items) baseline — the unbounded-vocabulary
    // 100 TB regime, gated exact: kllK = 65535 retains every
    // baseline value so the quantile edges are exact and the oracle
    // replays them; categories fit frequent-items' tracked set.
    // driftStream consumes whatever driftPrep computes, so this pins
    // that the approx baseline actually drives the windowed monitor
    "q186_stream_drift_approx" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.{expr => fexpr, lit => flit}
      val base = graft.ops.FsUtil.scratchDir("graft_q186_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      stageBatch(ev, fexpr("ts >= timestamp'2024-01-15'"),
        base, in, "b1")
      Pipeline.execute(s, s"""
sources:
  - name: cur
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
  - name: ev
    module: storage
    parameters: {path: "$dir/events.parquet"}
transforms:
  - name: b
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts < TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: dr
    module: profile
    inputs: [cur, b]
    strategy: {timestampField: ts, allowedLateness: 60, window: {type: fixed, size: 86400}}
    parameters:
      baselineInput: b
      fields: [value, event_type]
      psiBuckets: 10
      psiCategories: 20
      approx: true
      kllK: 65535
  - name: sel
    module: sql
    inputs: [dr]
    parameters:
      sql: "SELECT date_format(window_start, 'yyyy-MM-dd') AS day, `column`, n_base, n_cur, nulls_base, nulls_cur, round(null_frac_delta, 6) AS nfd_r, round(mean_delta, 6) AS mean_delta_r, round(psi, 6) AS psi_r FROM dr WHERE window_start < timestamp'2030-01-01'"
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stageBatch(ev.limit(1)
          .withColumn("event_id", flit(-1L))
          .withColumn("ts",
            flit("2099-06-01 00:00:00").cast(ev.schema("ts").dataType)),
        flit(true), base, in, "b2")
      graft.streaming.StreamRunner.drainUntilWatermark(
        java.time.Instant.parse("2099-05-01T00:00:00Z"))
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.5 interval join, STREAM-STREAM OVERLAP mode: both sides are
    // INTERVALS ([ts, ts+1h) views vs [ts, ts+2h) purchase windows),
    // state bounded by declaring BOTH span caps — the overlap
    // predicate becomes a two-sided band between the watermarked
    // start columns plus exact overlap on the guarded ends. Inner
    // join: matches flush as batches drain (no deferred emission),
    // staged like q163 with parity-split halves so matches span
    // micro-batches
    "q169_interval_ss_overlap" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q169_")
      val inL = base.resolve("inL"); inL.toFile.mkdirs()
      val inR = base.resolve("inR"); inR.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(into: java.nio.file.Path, n: String,
          cond: String): Unit =
        stageBatch(ev, org.apache.spark.sql.functions.expr(cond),
          base, into, n)
      stage(inL, "l1", "event_id % 2 = 0")
      stage(inR, "r1", "event_id % 2 = 1")
      Pipeline.execute(s, s"""
sources:
  - name: evl
    module: storage
    parameters: {path: "$inL", format: parquet, stream: true}
  - name: evr
    module: storage
    parameters: {path: "$inR", format: parquet, stream: true}
transforms:
  - name: views
    module: sql
    inputs: [evl]
    parameters:
      sql: "SELECT event_id, user_id, ts AS ls, ts + INTERVAL 1 HOUR AS le FROM evl WHERE event_type = 'view' AND user_id % 3 = 0"
  - name: wins
    module: sql
    inputs: [evr]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM evr WHERE event_type = 'purchase' AND user_id % 3 = 0"
  - name: jn
    module: join
    inputs: [views, wins]
    parameters:
      method: interval
      by: [user_id]
      leftStart: ls
      leftEnd: le
      rightStart: s
      rightEnd: e
      maxLeftSpan: 1h
      maxIntervalSpan: 2h
      leftWatermark: 60d
      rightWatermark: 60d
  - name: sel
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      graft.streaming.StreamRunner.drainAll()
      stage(inL, "l2", "event_id % 2 = 1")
      stage(inR, "r2", "event_id % 2 = 0")
      graft.streaming.StreamRunner.drainAll()
      graft.streaming.StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.7 streaming per-key limit with outputStartAt (reference
    // Limit.java:102-135): the first N rows per key AT-OR-AFTER the
    // offset, across micro-batches — stateful emitted-count per key,
    // within-batch microsecond ts sort. outputStartAt sits 30 min
    // before the first batch boundary so the per-key quota is only
    // PARTIALLY filled by batch 1 at either sf (the cross-batch
    // state path is exercised, not just a within-batch head);
    // batches stage in ts order, so the selection equals the batch
    // row_number oracle
    "q168_stream_limit" -> ((s: SparkSession, dir: String) => {
      val base = graft.ops.FsUtil.scratchDir("graft_q168_")
      val in = base.resolve("in"); in.toFile.mkdirs()
      val out = base.resolve("out").toString
      val ev = s.read.parquet(s"$dir/events.parquet")
      def stage(n: Int, cond: org.apache.spark.sql.Column): Unit =
        stageBatch(ev, cond, base, in, s"b$n")
      val ts = org.apache.spark.sql.functions.col("ts")
        .cast("timestamp")
      val t1 = org.apache.spark.sql.functions
        .lit("2024-01-11 00:00:00").cast("timestamp")
      val t2 = org.apache.spark.sql.functions
        .lit("2024-01-21 00:00:00").cast("timestamp")
      stage(1, ts < t1)
      Pipeline.execute(s, s"""
sources:
  - name: ev
    module: storage
    parameters: {path: "$in", format: parquet, stream: true}
transforms:
  - name: lim
    module: limit
    inputs: [ev]
    parameters:
      count: 20
      keyFields: [event_type]
      orderField: ts
      outputStartAt: "2024-01-10 23:30:00"
  - name: sel
    module: select
    inputs: [lim]
    parameters:
      select:
        - {name: event_id}
        - {name: event_type}
sinks:
  - name: sk
    module: storage
    input: sel
    parameters: {output: "$out", format: parquet, checkpointLocation: "$base/ckpt"}
""")
      import graft.streaming.StreamRunner
      StreamRunner.drainAll()
      stage(2, ts >= t1 && ts < t2)
      StreamRunner.drainAll()
      stage(3, ts >= t2)
      StreamRunner.drainAll()
      StreamRunner.stopAll()
      s.read.parquet(out)
    }),

    // §2.2 bucketed catalog tables: both join sides written bucketBy
    // the join key (the co-located-join lever — BucketSpec pins the
    // zero-exchange plan shape; here the VALUES go through the
    // driver against a plain-join oracle)
    "q93_bucket_join" -> ((s: SparkSession, dir: String) => {
      // a previous JVM's run leaves the managed-table LOCATION on
      // disk while this session's catalog has no such table —
      // saveAsTable(overwrite) then refuses with
      // LOCATION_ALREADY_EXISTS, so clear both catalog and location
      Seq("graft_q93_orders", "graft_q93_cust").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).getOrElse(Array.empty[java.io.File])
            .foreach(rm)
          f.delete(); ()
        }
        val loc = new java.io.File(wh, t)
        if (loc.exists) rm(loc)
      }
      Pipeline.execute(s, s"""
sources:
  - name: ord
    module: storage
    parameters: {path: "$dir/orders.parquet"}
  - name: cust
    module: storage
    parameters: {path: "$dir/customer.parquet"}
sinks:
  - name: bo
    module: storage
    input: ord
    parameters:
      table: graft_q93_orders
      mode: overwrite
      bucketBy: {count: 8, fields: [o_custkey]}
      sortBy: [o_custkey]
  - name: bc
    module: storage
    input: cust
    parameters:
      table: graft_q93_cust
      mode: overwrite
      bucketBy: {count: 8, fields: [c_custkey]}
      sortBy: [c_custkey]
""")
      Pipeline.build(s, """
sources:
  - name: o
    module: storage
    parameters: {table: graft_q93_orders}
  - name: c
    module: storage
    parameters: {table: graft_q93_cust}
transforms:
  - name: out
    module: sql
    inputs: [o, c]
    parameters:
      sql: "SELECT o.o_orderkey, c.c_mktsegment, round(o.o_totalprice, 4) AS price_r FROM o JOIN c ON o.o_custkey = c.c_custkey"
""", Map.empty)("out")
    }),

    // §2.8 sort transform, ZORDER mode: 8-bit fixed-point ranks of
    // (o_custkey, o_totalprice) bit-interleave into one z-key and the
    // frame range-sorts on it — the multi-dimensional layout op. Same
    // order-to-value conversion as q91; the oracle recomputes the
    // identical scale-and-interleave arithmetic in SQL (generated by
    // zorderOracleSql so both sides share one formula, bit for bit).
    // The declared min/max are DOMAIN bounds (out-of-range values
    // clamp identically on both sides), so the gate is sf-stable.
    "q95_zorder" -> ((s: SparkSession, dir: String) => {
      val sorted = Pipeline.build(s, """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: sort
    inputs: [ord]
    parameters:
      mode: zorder
      bits: 8
      numPartitions: 7
      tiebreakFields: [o_orderkey]
      fields:
        - {field: o_custkey, min: 0, max: 1500}
        - {field: o_totalprice, min: 0, max: 500000}
""", Map("dir" -> dir))("out")
      val rows = sorted.select("o_orderkey").rdd.zipWithIndex()
        .map { case (r, i) => (r.getAs[Number](0).longValue(), i) }
      s.createDataFrame(rows).toDF("ok", "pos")
    }),

    // §2.8 sort transform, SHUFFLE mode: the seeded corpus
    // permutation (pre-training randomization op) — rank by
    // md5(seed ‖ key), the same order-to-value conversion as q91;
    // the oracle replays the identical md5 ranking. o_orderkey is
    // unique, so the permutation is total without the engine's
    // full-row-hash tiebreak entering the compare.
    "q106_sort_shuffle" -> ((s: SparkSession, dir: String) => {
      val shuffled = Pipeline.build(s, """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: sort
    inputs: [ord]
    parameters:
      mode: shuffle
      seed: "42"
      numPartitions: 7
      fields:
        - {field: o_orderkey}
""", Map("dir" -> dir))("out")
      val rows = shuffled.select("o_orderkey").rdd.zipWithIndex()
        .map { case (r, i) => (r.getAs[Number](0).longValue(), i) }
      s.createDataFrame(rows).toDF("ok", "pos")
    }),
  )

  // ---------------------------------------------------------------
  /** Default-(xxhash64)-hash variants of the five md5-audit LSH
    * gates. Bench-only: excluded from `queries`, so the driver's
    * correctness battery is unchanged (xxhash64 isn't SQL-replayable
    * — these same pipelines verify through their md5-mode twins), but
    * the default hash path keeps end-to-end execution coverage and
    * the bench measures BOTH modes, restoring round-over-round
    * comparability that the r5 md5-gate switch broke (ADVICE r5). */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = {
    def dedupDocs(params: String) = s"""
sources:
  - name: docs
    module: storage
    parameters: {path: "$${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {$params}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""
    Map(
      "q20x_minhash_xx64" -> pipe("out",
        dedupDocs("method: minhash, field: text, idField: doc_id")),
      "q21x_simhash_xx64" -> pipe("out",
        dedupDocs("method: simhash, field: text, idField: doc_id")),
      "q34x_ngram_xx64" -> pipe("out", dedupDocs(
        "method: ngram, field: text, idField: doc_id, ngramSize: 5, threshold: 0.7")),
      "q127x_winnow_xx64" -> pipe("out", dedupDocs(
        "method: winnow, field: text, idField: doc_id, ngramSize: 4, window: 8, threshold: 0.5")),
      "q116x_chunk_cdc_xx64" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: out
    module: chunk
    inputs: [docs]
    parameters: {mode: cdc, field: text, window: 8, bits: 5}
"""),
      "q22x_embedding_xx64" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [emb]
    parameters: {method: embedding, field: embedding, idField: vec_id, threshold: 0.35, planes: 6}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: vec_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),
      "q24x_knn_lsh_xx64" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: knn
    module: similarity
    inputs: [emb, q]
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),
      // Lloyd auto-fit IVF (the default, non-md5 mode): q33's gate
      // moved to the md5-seeded oracle-checkable codebook, so this
      // twin keeps the iterative fit path benched end-to-end
      "q33x_knn_ivf_lloyd" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: q
    module: filter
    inputs: [emb]
    parameters:
      filter: [{key: vec_id, op: "<", value: 5}]
  - name: knn
    module: similarity
    inputs: [emb, q]
    parameters: {method: ivf, field: embedding, idField: vec_id, k: 5, centroids: 16, nProbe: 6}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""))
  }

  // ---------------------------------------------------------------
  /** Shared by q82 (continuous run) and q153 (stop + restart from
    * the checkpoint between batches 2 and 3): the pane set is a
    * function of batch boundaries alone, so the persisted-trigger-
    * state restart must land on the identical result. */
  private def accPanesOracleSql: String = accPanesOracle(
    "CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)",
    "CAST(floor(epoch(ts) / 21600) * 21600 + 21600 AS BIGINT)")

  /** q82's pane derivation with the window-bucket formulas
    * parameterized: the early/onTime sequencing depends only on
    * batch boundaries, bucket ends and event times, so the calendar
    * twin (q161) swaps in its local-midnight bucket bounds and reuses
    * the whole derivation; `tsExpr` is the event time the engine
    * sees (shifted where the gate shifts it). */
  private def accPanesOracle(wsExpr: String, weExpr: String,
      tsExpr: String = "ts"): String =
    accPanesOracleEv(s"""
           SELECT $wsExpr AS ws,
                  $weExpr AS we,
                  epoch_ms($tsExpr) AS et,
                  CASE WHEN ts < TIMESTAMP '2024-01-11 03:00:00' THEN 1
                       WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 2
                       ELSE 3 END AS b,
                  event_type, value
           FROM events""")

  /** The pane derivation over an arbitrary (event, window) relation
    * — the sliding twin (q176) explodes each event into its
    * size/period containing windows and reuses the whole
    * early/onTime/ordinal sequencing, which is generic over (ws, we)
    * pairs. The clock `f` after batch b is the max event time `et`
    * (epoch ms) over batches ≤ b: a window closes ON_TIME in the
    * first batch whose clock reaches its end, and fires early in
    * each earlier batch that touched its key; a pane's ordinal counts
    * the key+window's earlier panes. */
  private def accPanesOracleEv(evSql: String): String =
      s"""WITH ev AS ($evSql),
         clock AS (
           SELECT b, max(max(et)) OVER (ORDER BY b) AS f
           FROM ev GROUP BY b),
         cum AS (
           SELECT ev.ws, ev.we, ev.event_type, bb.b AS b,
             count(*) AS n, sum(value) AS total
           FROM ev JOIN (SELECT DISTINCT b FROM ev) bb ON ev.b <= bb.b
           GROUP BY ev.ws, ev.we, ev.event_type, bb.b),
         touch AS (SELECT DISTINCT ws, we, event_type, b FROM ev),
         early AS (
           SELECT c.ws, c.we, c.event_type, c.b, c.n, c.total,
             'early' AS pane
           FROM cum c
           JOIN clock m ON c.b = m.b
           JOIN touch t ON t.ws = c.ws AND t.we = c.we
             AND t.event_type = c.event_type AND t.b = c.b
           WHERE c.we * 1000 > m.f),
         ontime AS (
           SELECT c.ws, c.we, c.event_type, c.b, c.n, c.total,
             'onTime' AS pane
           FROM cum c
           JOIN clock m ON c.b = m.b
           LEFT JOIN clock prev ON prev.b = c.b - 1
           WHERE c.we * 1000 <= m.f
             AND (prev.f IS NULL OR c.we * 1000 > prev.f))
         SELECT ws AS win_start, event_type, n,
           round(total, 4) AS total_r, pane,
           CAST(row_number() OVER (PARTITION BY ws, we, event_type
             ORDER BY b) - 1 AS BIGINT) AS pane_idx
         FROM (SELECT * FROM early UNION ALL SELECT * FROM ontime)"""

  /** Shared by q129 (raw-text cross winnow) and q134 (the same
    * dedup fed by a prebuilt fingerprint index): both paths must
    * land on the identical result, so one oracle serves both. */
  private def winnowCrossOracleSql: String =
      """WITH base AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id,
             [substr(md5('0 ' || array_to_string(toks[i:i+3], ' ')),
                1, 8)
              for i in range(1, greatest(len(toks) - 3, 1) + 1)] AS gh
           FROM base),
         f AS (
           SELECT doc_id,
             list_distinct([list_min(gh[i:i+7])
               for i in range(1, greatest(len(gh) - 7, 1) + 1)]) AS fps
           FROM g),
         pf AS (SELECT * FROM f WHERE doc_id >= 100),
         rf AS (SELECT * FROM f WHERE doc_id < 100),
         pe AS (SELECT doc_id, unnest(fps) AS fp FROM pf),
         re AS (SELECT doc_id AS rid, unnest(fps) AS fp FROM rf),
         meta AS (
           SELECT ps.fp, ps.pc, rs.rc, rs.rmin FROM
             (SELECT fp, count(*) AS pc FROM pe GROUP BY fp) ps
           JOIN
             (SELECT fp, count(*) AS rc, min(rid) AS rmin
              FROM re GROUP BY fp) rs
           ON ps.fp = rs.fp),
         csmall AS (
           -- engine's per-side over-cap split: a bounded (<= cap)
           -- REFERENCE bucket pairs in full regardless of how hot
           -- the primary side is; only a hot reference side falls
           -- back to its min-id representative
           SELECT DISTINCT pe.doc_id AS a, re.rid AS b
           FROM meta m
           JOIN pe ON pe.fp = m.fp
           JOIN re ON re.fp = m.fp
           WHERE m.rc <= 64),
         cover AS (
           SELECT DISTINCT pe.doc_id AS a, m.rmin AS b
           FROM meta m JOIN pe ON pe.fp = m.fp
           WHERE m.rc > 64),
         cand AS (
           SELECT a, b FROM csmall UNION SELECT a, b FROM cover),
         inter AS (
           SELECT c.a, c.b,
             len(list_intersect(fa.fps, fb.fps)) AS i,
             len(fa.fps) AS na, len(fb.fps) AS nb
           FROM cand c
           JOIN pf fa ON fa.doc_id = c.a
           JOIN rf fb ON fb.doc_id = c.b),
         ver AS (
           SELECT a, min(b) AS dup_of
           FROM inter
           WHERE i::DOUBLE / (na + nb - i) >= 0.5
           GROUP BY a)
         SELECT d.doc_id, v.dup_of
         FROM documents d LEFT JOIN ver v ON v.a = d.doc_id
         WHERE d.doc_id >= 100"""


  /** Shared by q195 (direct quantized recall) and q198 (recall of
    * the PERSISTED artifact): the stored index must reproduce the
    * direct run's recall exactly, so one SQL defines both. */
  /** Streaming-minhash candidate replay through the per-doc min
    * reduce (the `dup` CTE) — shared by q184 (corpus-joined
    * verdicts) and q206 (bare verdict rows with idType). */
  private val minhashDupCtes: String =
    """WITH toks0 AS (
           SELECT doc_id, a[i] AS tok, i AS ord
           FROM (SELECT doc_id, regexp_split_to_array(lower(text),
                   '[^\p{L}\p{Nd}'']+') AS a
                 FROM documents WHERE text IS NOT NULL) d,
                LATERAL unnest(range(1, len(a) + 1)) u(i)
           WHERE a[i] <> ''),
         toks AS (
           SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos,
             count(*) OVER (PARTITION BY doc_id) AS n
           FROM toks0),
         grams AS (
           SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' '
                 || lead(tok, 2) OVER w AS gram
           FROM toks WHERE n >= 3
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
           QUALIFY pos <= n - 2
           UNION ALL
           SELECT d.doc_id, coalesce(s.joined, '') AS gram
           FROM documents d
           LEFT JOIN (SELECT doc_id,
                        string_agg(tok, ' ' ORDER BY pos) AS joined
                      FROM toks GROUP BY doc_id
                      HAVING count(*) < 3) s USING (doc_id)
           WHERE d.text IS NOT NULL
             AND d.doc_id NOT IN (SELECT doc_id FROM toks WHERE n >= 3)),
         gh AS (
           SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h2,
             ('0x' || substr(md5(gram), 17, 8))::BIGINT AS h3
           FROM grams),
         sig AS (
           SELECT doc_id, s,
             min((h1 + s * h2 + s * s * h3) % 4294967296) AS mh
           FROM gh CROSS JOIN range(0, 32) t(s)
           GROUP BY doc_id, s),
         bandkeys AS (
           SELECT doc_id, s // 4 AS band_idx,
             md5(string_agg(mh::VARCHAR, '|' ORDER BY s)) AS bh
           FROM sig GROUP BY doc_id, s // 4),
         cand AS (
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         dup AS (
           SELECT doc_id, min(rep) AS dup_of
           FROM cand WHERE doc_id > rep GROUP BY doc_id)"""

  /** md5-seeded 16-cell IVF coarse table + cell assignment over
    * the PQ reconstruction — shared by the q190 and q205 replay
    * chains (q203 inlines a no-`e`-CTE variant). */
  /** [[ivfCentsAssignCtes]] with the centroid-seed selection
    * restricted by `fitAnd` (an `AND …` suffix) — the incremented-
    * index oracle fits coarse centroids on the BASE build's half of
    * the corpus while still cell-assigning every vector. */
  private def ivfCentsAssignCtesFit(fitAnd: String): String =
    s"""cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             CAST(embedding AS DOUBLE[]) AS cvec
           FROM (SELECT vec_id, embedding FROM e
                 WHERE true$fitAnd
                 ORDER BY md5(CAST(vec_id AS VARCHAR)),
                   CAST(vec_id AS VARCHAR)
                 LIMIT 16)),""" + """
         c_assign AS (
           SELECT vec_id, cell FROM (
             SELECT r.vec_id, cents.cell,
               row_number() OVER (PARTITION BY r.vec_id
                 ORDER BY list_dot_product(r.r, cents.cvec) /
                   (sqrt(list_dot_product(r.r, r.r)) *
                    sqrt(list_dot_product(cents.cvec, cents.cvec)))
                   DESC, cents.cell) AS rn
             FROM recon r CROSS JOIN cents)
           WHERE rn = 1),"""

  private val ivfCentsAssignCtes: String = ivfCentsAssignCtesFit("")

  /** Shared md5-PQ replay prefix (codebook selection -> per-
    * subspace argmin codes), used by every PQ-family oracle —
    * one definition, so a fix to the chain lands everywhere.
    * `fitAnd` (an `AND …` suffix) restricts the codebook FIT side
    * only — codes still compute for every vector. */
  private def pqCodesCtesFit(fitAnd: String): String =
    s"""WITH cb AS (
           SELECT row_number() OVER (ORDER BY
               md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR))
               - 1 AS ci,
             CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE embedding IS NOT NULL$fitAnd
           ORDER BY md5(CAST(vec_id AS VARCHAR)),
             CAST(vec_id AS VARCHAR)
           LIMIT 16),""" + """
         subs AS (SELECT unnest(range(8)) AS j),
         dists AS (
           SELECT v.vec_id, s.j, cb.ci,
             list_sum([ (CAST(v.embedding[s.j*8 + t] AS DOUBLE)
                          - cb.e[s.j*8 + t])^2
                        for t in range(1, 9) ]) AS d
           FROM embeddings v, subs s, cb
           WHERE v.embedding IS NOT NULL),
         codes AS (
           SELECT vec_id, j, ci FROM (
             SELECT vec_id, j, ci,
               row_number() OVER (PARTITION BY vec_id, j
                 ORDER BY d ASC, ci ASC) AS rn
             FROM dists)
           WHERE rn = 1)"""

  private val pqCodesCtes: String = pqCodesCtesFit("")

  /** [[pqCodesCtesFit]] + the reconstruction CTE. */
  private def pqReconCtesFit(fitAnd: String): String =
    pqCodesCtesFit(fitAnd) + """,
         recon AS (
           SELECT c.vec_id,
             flatten(list(cb.e[c.j*8 + 1 : c.j*8 + 8] ORDER BY c.j))
               AS r
           FROM codes c JOIN cb ON cb.ci = c.ci
           GROUP BY c.vec_id),"""

  private val pqReconCtes: String = pqReconCtesFit("")

  private val recallPqOracleSql: String =
      pqReconCtes + """
         pl AS (
           SELECT t, p, i,
             ('0x' || substr(md5('t' || t || ':' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 8) tt(t)
           CROSS JOIN range(0, 6) pp(p)
           CROSS JOIN range(0, 64) s(i)),
         cdots AS (
           SELECT r.vec_id, pl.t, pl.p,
             sum(r.r[pl.i + 1] * pl.u) AS dot
           FROM recon r JOIN pl ON pl.i < len(r.r)
           GROUP BY r.vec_id, pl.t, pl.p),
         cbuck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM cdots GROUP BY vec_id, t),
         qe AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings
           WHERE vec_id < 5 AND embedding IS NOT NULL),
         qdots AS (
           SELECT q.vec_id, pl.t, pl.p,
             sum(q.e[pl.i + 1] * pl.u) AS dot
           FROM qe q JOIN pl ON pl.i < len(q.e)
           GROUP BY q.vec_id, pl.t, pl.p),
         qbuck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM qdots GROUP BY vec_id, t),
         pairs AS (
           SELECT DISTINCT qb.vec_id AS query_id,
             cbk.vec_id AS neighbor_id
           FROM cbuck cbk
           JOIN qbuck qb ON cbk.bucket = qb.bucket
           WHERE cbk.vec_id <> qb.vec_id),
         approx AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_dot_product(q.e, r.r) /
                   (sqrt(list_dot_product(q.e, q.e)) *
                    sqrt(list_dot_product(r.r, r.r))) DESC,
                   p.neighbor_id) AS rank
             FROM pairs p
             JOIN qe q ON q.vec_id = p.query_id
             JOIN recon r ON r.vec_id = p.neighbor_id)
           WHERE rank <= 5),
         exact AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
             FROM embeddings c
             CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
             WHERE c.vec_id <> q.vec_id)
           WHERE rank <= 5),
         den AS (
           SELECT query_id, count(*) AS n FROM exact GROUP BY 1),
         hits AS (
           SELECT a.query_id, count(*) AS h
           FROM approx a JOIN exact x
             ON x.query_id = a.query_id
              AND x.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT d.query_id, coalesce(h.h, 0) AS hits,
           d.n AS exact_n,
           round(coalesce(h.h, 0) * 1.0 / d.n, 6) AS recall_r
         FROM den d LEFT JOIN hits h USING (query_id)"""

  /** Shared by q187 (streaming queries vs live PQ index), q189
    * (persisted-index storage roundtrip) and q199 (streaming
    * queries vs the PERSISTED index): one md5-replayable PQ+LSH
    * chain defines all three equivalences. */
  private val pqLshOracleSql: String =
    pqReconCtes + """
         pl AS (
           SELECT t, p, i,
             ('0x' || substr(md5('t' || t || ':' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 8) tt(t)
           CROSS JOIN range(0, 6) pp(p)
           CROSS JOIN range(0, 64) s(i)),
         cdots AS (
           SELECT r.vec_id, pl.t, pl.p,
             sum(r.r[pl.i + 1] * pl.u) AS dot
           FROM recon r JOIN pl ON pl.i < len(r.r)
           GROUP BY r.vec_id, pl.t, pl.p),
         cbuck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM cdots GROUP BY vec_id, t),
         qe AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings
           WHERE vec_id < 5 AND embedding IS NOT NULL),
         qdots AS (
           SELECT q.vec_id, pl.t, pl.p,
             sum(q.e[pl.i + 1] * pl.u) AS dot
           FROM qe q JOIN pl ON pl.i < len(q.e)
           GROUP BY q.vec_id, pl.t, pl.p),
         qbuck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM qdots GROUP BY vec_id, t),
         pairs AS (
           SELECT DISTINCT qb.vec_id AS query_id,
             cbk.vec_id AS neighbor_id
           FROM cbuck cbk
           JOIN qbuck qb ON cbk.bucket = qb.bucket
           WHERE cbk.vec_id <> qb.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_dot_product(q.e, r.r) /
                 (sqrt(list_dot_product(q.e, q.e)) *
                  sqrt(list_dot_product(r.r, r.r))) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN qe q ON q.vec_id = p.query_id
           JOIN recon r ON r.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5"""

  /** DuckDB oracle per gate: `gates/<name>.sql`, or one of the
    * generated oracles below. Built once. Every gate is hash-checked;
    * the md5-mode dedup/similarity gates (q20/q21/q22/q24/q33/q34)
    * replay their full hash pipelines in SQL — q33's auto-fit IVF
    * included, since its md5-seeded codebook (fitIterations 0) is an
    * ORDER BY md5(id) LIMIT n selection any SQL engine reproduces. */
  lazy val oracleSql: Map[String, String] =
    GateFiles.oracles(queries.keys, generatedOracles)

  private def generatedOracles: Map[String, String] = Map(

    // accumulating panes: cumulative aggregates per firing. EARLY =
    // windows ending after the batch's clock (max event time so
    // far), keys with new elements; ON_TIME = windows the advancing
    // clock reached (all keys, cumulative over every batch so far);
    // ordinal = the key+window's earlier panes
    "q82_accumulating_panes" -> accPanesOracleSql,

    // Tokyo midnights: bucket = floor((epoch + 9h) / day) in local
    // wall time, rendered back as the UTC start the engine emits
    "q161_calendar_panes" -> accPanesOracle(
      "CAST(floor((epoch(ts) + 32400) / 86400) * 86400 - 32400 AS BIGINT)",
      "CAST(floor((epoch(ts) + 32400) / 86400) * 86400 + 86400 - 32400 AS BIGINT)"),

    // Berlin local midnights across the 2024-03-31 spring-forward
    // (events shifted +89d): ICU timezone arithmetic, written with
    // the two-arg timezone() only so the derivation is independent
    // of the oracle session's TimeZone setting — timezone('UTC', t)
    // stamps the naive UTC instant, timezone('Europe/Berlin', tz_t)
    // yields local wall time, date_trunc + 1 day is calendar-bucket
    // arithmetic in LOCAL time (the 23h day ends a UTC hour early),
    // and the outer timezone() maps the local boundary back to the
    // instant the engine emits. Batch boundaries stay on the RAW ts
    // (same rows as the engine's shifted splits).
    "q167_calendar_dst_panes" -> accPanesOracle(
      "CAST(epoch(timezone('Europe/Berlin', date_trunc('day', " +
        "timezone('Europe/Berlin', timezone('UTC', " +
        "ts + INTERVAL 89 DAY))))) AS BIGINT)",
      "CAST(epoch(timezone('Europe/Berlin', date_trunc('day', " +
        "timezone('Europe/Berlin', timezone('UTC', " +
        "ts + INTERVAL 89 DAY))) + INTERVAL 1 DAY)) AS BIGINT)",
      "ts + INTERVAL 89 DAY"),

    // the restarted run must land on the same batch-boundary-
    // deterministic pane set — one oracle serves q82 and q153
    "q153_panes_restart" -> accPanesOracleSql,

    // anchored 3-day Tokyo buckets: the anchor's local midnight is
    // epoch 1704121200 (2024-01-02T00:00+09:00); Tokyo is fixed
    // offset so the anchored local-date grid is plain epoch
    // arithmetic (floor handles the pre-anchor negative bucket)
    "q171_calendar_anchored_panes" -> accPanesOracle(
      "CAST(1704121200 + floor((epoch(ts) - 1704121200) / 259200) " +
        "* 259200 AS BIGINT)",
      "CAST(1704121200 + (floor((epoch(ts) - 1704121200) / 259200) + 1) " +
        "* 259200 AS BIGINT)"),

    // sliding 12h/6h: each event explodes into its TWO containing
    // windows (ends on the 6h grid in (ts, ts+12h]); the pane
    // sequencing is the shared derivation, generic over (ws, we)
    "q176_sliding_panes" -> accPanesOracleEv("""
           SELECT (CAST(floor(epoch(ts) / 21600) AS BIGINT) + 1 + k.k)
                    * 21600 - 43200 AS ws,
                  (CAST(floor(epoch(ts) / 21600) AS BIGINT) + 1 + k.k)
                    * 21600 AS we,
                  epoch_ms(ts) AS et,
                  CASE WHEN ts < TIMESTAMP '2024-01-11 03:00:00' THEN 1
                       WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 2
                       ELSE 3 END AS b,
                  event_type, value
           FROM events, (SELECT unnest(range(2)) AS k) k"""),

    // Saturday-start weeks (epoch anchor 1970-01-01 + offset 2 days)
    // in Berlin local-date arithmetic, events shifted +89d across
    // the 2024-03-31 spring-forward (that bucket spans 167 hours):
    // local date → anchored 7-day index → local-midnight boundary →
    // back to the UTC instant, all via ICU two-arg timezone() so the
    // derivation is independent of the oracle session's TimeZone
    "q172_calendar_weekoffset_panes" -> accPanesOracle(
      "CAST(epoch(timezone('Europe/Berlin', CAST(DATE '1970-01-03' + " +
        "CAST(floor((CAST(timezone('Europe/Berlin', timezone('UTC', " +
        "ts + INTERVAL 89 DAY)) AS DATE) - DATE '1970-01-03') / 7.0) " +
        "* 7 AS INT) AS TIMESTAMP))) AS BIGINT)",
      "CAST(epoch(timezone('Europe/Berlin', CAST(DATE '1970-01-03' + " +
        "CAST((floor((CAST(timezone('Europe/Berlin', timezone('UTC', " +
        "ts + INTERVAL 89 DAY)) AS DATE) - DATE '1970-01-03') / 7.0) " +
        "+ 1) * 7 AS INT) AS TIMESTAMP))) AS BIGINT)",
      "ts + INTERVAL 89 DAY"),

    // PQ replay: md5-seeded codebook (the 16 smallest-md5(id)
    // vectors), per-subspace argmin-L2 codes over a flat
    // (vec, subspace, centroid) distance join, centroid-concat
    // reconstruction, cosine rank — all double arithmetic in the
    // same sequential index order as the engine
    "q177_knn_pq" ->
      (pqReconCtes + """
         q AS (SELECT vec_id AS query_id,
                 CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, r.vec_id AS neighbor_id,
             list_dot_product(q.qe, r.r) /
               (sqrt(list_dot_product(q.qe, q.qe)) *
                sqrt(list_dot_product(r.r, r.r))) AS score
           FROM q JOIN recon r ON r.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
           FROM scored)
         WHERE rank <= 5"""),

    // chain pagerank: the generated recurrence replay (in-degree ≤ 1
    // → order-deterministic double ops on both sides)
    "q109_pagerank" -> pagerankOracleSql,

    // cross-corpus winnow replay (winnowCrossOracleSql): the q127
    // fingerprint CTEs split at id 100, per-fp side stats, capped
    // all-pairs + over-cap min-reference fallback, set-Jaccard
    // verify, min reference id
    "q129_winnow_cross" -> winnowCrossOracleSql,

    // the index-fed run must land on the exact raw-text result: the
    // q129 oracle applies verbatim
    "q134_winnow_index_cross" -> winnowCrossOracleSql,
    // sharded-index union ≡ the same full-rebuild cross result
    "q137_winnow_index_union" -> winnowCrossOracleSql,


    "q170_profile_drift" ->
      driftOracleSql(Seq("value", "user_id"), Seq("event_type"),
        "2024-01-15 00:00:00", 10, 20),

    "q175_profile_drift_approx" ->
      driftApproxOracleSql(Seq("value", "user_id"), Seq("event_type"),
        "2024-01-15 00:00:00", 10, 20),

    // stream → candidates → verdicts composition ≡ batch minhash
    // dedup's per-doc flags (q20's reduce): min owner over a doc's
    // band candidates, left-joined onto the corpus
    "q184_stream_dedup_verdicts" ->
      (minhashDupCtes + """
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)"""),

    // bare verdict rows (no corpus input): idType int64 restores
    // numeric min over the drained STRING ids — the dup CTE alone
    "q206_verdicts_idtype" ->
      (minhashDupCtes + """
         SELECT doc_id, CAST(dup_of AS BIGINT) AS dup_of
         FROM dup"""),

    // incremented-index recall ≡ full-build recall: ONE chain (fit
    // on the even half — the base build — codes/cells for every
    // vector) emits both column sets, so the gate's two artifacts
    // must both reproduce it to hash-match
    "q209_recall_incremented" ->
      (pqReconCtesFit(" AND vec_id % 2 = 0") + """
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         """ + ivfCentsAssignCtesFit(" AND vec_id % 2 = 0") + """
         q_assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, cents.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), cents.cvec) DESC,
                   cents.cell) AS rn
             FROM e CROSS JOIN cents
             WHERE e.vec_id < 5)
           WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         approx AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_dot_product(
                     CAST(eq.embedding AS DOUBLE[]), r.r) /
                   (sqrt(list_dot_product(
                      CAST(eq.embedding AS DOUBLE[]),
                      CAST(eq.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(r.r, r.r))) DESC,
                   p.neighbor_id) AS rank
             FROM pairs p
             JOIN e eq ON eq.vec_id = p.query_id
             JOIN recon r ON r.vec_id = p.neighbor_id)
           WHERE rank <= 5),
         exact AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
             FROM embeddings c
             CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
             WHERE c.vec_id <> q.vec_id)
           WHERE rank <= 5),
         den AS (
           SELECT query_id, count(*) AS n FROM exact GROUP BY 1),
         hits AS (
           SELECT a.query_id, count(*) AS h
           FROM approx a JOIN exact x
             ON x.query_id = a.query_id
              AND x.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT d.query_id, coalesce(h.h, 0) AS hits_inc,
           d.n AS exact_n,
           round(coalesce(h.h, 0) * 1.0 / d.n, 6) AS recall_inc,
           coalesce(h.h, 0) AS hits_full,
           round(coalesce(h.h, 0) * 1.0 / d.n, 6) AS recall_full
         FROM den d LEFT JOIN hits h USING (query_id)"""),

    // IVF-PQ persisted index: the PQ reconstruction chain feeds the
    // q33 coarse-cell replay — corpus cells assign over the
    // RECONSTRUCTED vectors (what the stored index holds), query
    // probes rank raw-vs-centroid, final scores are raw-vs-recon
    "q190_knn_ivfpq_index" ->
      (pqReconCtes + """
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         """ + ivfCentsAssignCtes + """
         q_assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, cents.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), cents.cvec) DESC,
                   cents.cell) AS rn
             FROM e CROSS JOIN cents
             WHERE e.vec_id < 5)
           WHERE rn <= 6),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_dot_product(
                   CAST(eq.embedding AS DOUBLE[]), r.r) /
                 (sqrt(list_dot_product(CAST(eq.embedding AS DOUBLE[]),
                    CAST(eq.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(r.r, r.r))) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN recon r ON r.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5"""),

    // streaming encode against the persisted codebook is stateless,
    // so the drained code rows over both halves equal the batch
    // encode — md5 codebook selection + per-subspace argmin-L2
    "q191_stream_index_encode" ->
      (pqCodesCtes + """
         SELECT vec_id, CAST(j AS INT) AS j, CAST(ci AS INT) AS ci
         FROM codes"""),

    // streaming IVF-PQ increment ≡ batch: codes from the persisted
    // md5 codebook (q191's chain) plus each vector's coarse cell
    // over the reconstruction against the persisted centroid table
    // (q190's c_assign)
    "q203_stream_ivfpq_encode" ->
      (pqReconCtes + """
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             CAST(embedding AS DOUBLE[]) AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE embedding IS NOT NULL
                 ORDER BY md5(CAST(vec_id AS VARCHAR)),
                   CAST(vec_id AS VARCHAR)
                 LIMIT 16)),
         c_assign AS (
           SELECT vec_id, cell FROM (
             SELECT r.vec_id, cents.cell,
               row_number() OVER (PARTITION BY r.vec_id
                 ORDER BY list_dot_product(r.r, cents.cvec) /
                   (sqrt(list_dot_product(r.r, r.r)) *
                    sqrt(list_dot_product(cents.cvec, cents.cvec)))
                   DESC, cents.cell) AS rn
             FROM recon r CROSS JOIN cents)
           WHERE rn = 1)
         SELECT c.vec_id, CAST(a.cell AS INT) AS cell,
           CAST(c.j AS INT) AS j, CAST(c.ci AS INT) AS ci
         FROM codes c JOIN c_assign a USING (vec_id)"""),

    // quantized-regime recall: approx = q187's full PQ+LSH replay
    // chain (md5 codebook → per-subspace argmin codes → recon →
    // hyperplane buckets ON the recon → cosine(query float, recon)
    // top-k), exact = float bruteforce — recall measures the pqM
    // distortion (fixture values 0.0–0.2, never an echoed 1.0)
    "q195_recall_pq" -> recallPqOracleSql,

    // stored-artifact recall ≡ q195: the persisted codes/codebook
    // must reproduce the direct quantized run's recall exactly
    // (storage adds nothing, loses nothing), so the oracle is
    // q195's chain verbatim
    "q198_recall_prebuilt" -> recallPqOracleSql,

    // served IVF-PQ artifact recall: approx = the q190 chain (codes
    // → recon → stored cells, query probes rn ≤ 2 of 16, rank over
    // recon), exact = float bruteforce — measures coarse-miss +
    // quantization loss of the exact persisted index
    "q205_recall_ivfpq_prebuilt" ->
      (pqReconCtes + """
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         """ + ivfCentsAssignCtes + """
         q_assign AS (
           SELECT vec_id, cell FROM (
             SELECT e.vec_id, cents.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), cents.cvec) DESC,
                   cents.cell) AS rn
             FROM e CROSS JOIN cents
             WHERE e.vec_id < 5)
           WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         approx AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_dot_product(
                     CAST(eq.embedding AS DOUBLE[]), r.r) /
                   (sqrt(list_dot_product(
                      CAST(eq.embedding AS DOUBLE[]),
                      CAST(eq.embedding AS DOUBLE[]))) *
                    sqrt(list_dot_product(r.r, r.r))) DESC,
                   p.neighbor_id) AS rank
             FROM pairs p
             JOIN e eq ON eq.vec_id = p.query_id
             JOIN recon r ON r.vec_id = p.neighbor_id)
           WHERE rank <= 5),
         exact AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                   CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
             FROM embeddings c
             CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
             WHERE c.vec_id <> q.vec_id)
           WHERE rank <= 5),
         den AS (
           SELECT query_id, count(*) AS n FROM exact GROUP BY 1),
         hits AS (
           SELECT a.query_id, count(*) AS h
           FROM approx a JOIN exact x
             ON x.query_id = a.query_id
              AND x.neighbor_id = a.neighbor_id
           GROUP BY 1)
         SELECT d.query_id, coalesce(h.h, 0) AS hits,
           d.n AS exact_n,
           round(coalesce(h.h, 0) * 1.0 / d.n, 6) AS recall_r
         FROM den d LEFT JOIN hits h USING (query_id)"""),

    // build-once/query-many PQ index roundtrip: identical semantics
    // to the direct PQ+lsh run, so the oracle is q187's chain
    "q189_knn_pq_index" ->
      pqLshOracleSql,

    // streaming lsh over the PQ corpus index: the q177 codebook/
    // code/reconstruction chain feeds q181's plane/bucket chain on
    // the CORPUS side (queries bucket and score with raw vectors
    // against the reconstructions)
    "q187_stream_knn_pq" ->
      pqLshOracleSql,

    // streaming queries against the STORED artifact: the prebuilt
    // query path is pinned ≡ the direct PQ run (q189), so the
    // drained stream equals the same chain
    "q199_stream_knn_prebuilt" ->
      pqLshOracleSql,

    // approx profile on bounded domains ≡ the exact per-column stats
    "q118_profile_approx" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, count(*) AS n,
           CAST(count(*) - count($c) AS BIGINT) AS nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS distincts,
           CAST(min($c) AS VARCHAR) AS min_s,
           CAST(max($c) AS VARCHAR) AS max_s
         FROM orders"""
      Seq(one("o_orderstatus"), one("o_orderpriority"))
        .mkString("\nUNION ALL\n")
    },

    // profile percentiles ≡ the ⌈q·n⌉-th order statistic per numeric
    // column (KLL inclusive-search convention, exact at n ≤ kllK —
    // the q114 replay), nulls for the non-numeric column
    "q135_profile_percentiles" -> {
      def one(c: String, numeric: Boolean): String =
        if (numeric)
          s"""SELECT '$c' AS col_name, cnt AS n,
             CAST(cnt - nn AS BIGINT) AS nulls,
             round(arr[CAST(ceil(0.5 * nn) AS INT)], 4) AS p50_r,
             round(arr[CAST(ceil(0.95 * nn) AS INT)], 4) AS p95_r
           FROM (
             SELECT count(*) AS cnt, count($c) AS nn,
               list_sort(list(CAST($c AS DOUBLE))) AS arr
             FROM orders WHERE o_orderkey % 100 = 0) t"""
        else
          s"""SELECT '$c' AS col_name, count(*) AS n,
             CAST(count(*) - count($c) AS BIGINT) AS nulls,
             CAST(NULL AS DOUBLE) AS p50_r,
             CAST(NULL AS DOUBLE) AS p95_r
           FROM orders WHERE o_orderkey % 100 = 0"""
      Seq(one("o_totalprice", numeric = true),
        one("o_custkey", numeric = true),
        one("o_orderstatus", numeric = false))
        .mkString("\nUNION ALL\n")
    },

    // per-column profile ≡ one aggregate per column, unioned
    "q112_profile" -> {
      def one(c: String, numeric: Boolean): String = {
        val mean =
          if (numeric) s"round(avg($c), 4)" else "CAST(NULL AS DOUBLE)"
        val std =
          if (numeric) s"round(stddev_samp($c), 4)"
          else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, count(*) AS n,
           CAST(count(*) - count($c) AS BIGINT) AS nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS distincts,
           CAST(min($c) AS VARCHAR) AS min_s,
           CAST(max($c) AS VARCHAR) AS max_s,
           $mean AS mean_r, $std AS std_r
         FROM orders"""
      }
      Seq(one("o_orderkey", numeric = true),
        one("o_custkey", numeric = true),
        one("o_orderstatus", numeric = false),
        one("o_orderpriority", numeric = false))
        .mkString("\nUNION ALL\n")
    },

    // zorder: the oracle replays the exact fixed-point scale +
    // bit-interleave the engine computes (one generated formula —
    // see zorderOracleSql) and ranks by it
    "q95_zorder" -> zorderOracleSql,
  )
}
