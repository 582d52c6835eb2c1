package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each exercising the engine end-to-end (config →
  * Pipeline → Catalyst), plus a DuckDB oracle in `oracleSql`.
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
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.6 aggregation: groupBy + count/sum/min/max/avg + per-op condition
    "q1_pricing" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters:
      path: "${dir}/lineitem.parquet"
      filter: [{key: l_shipdate, op: "<", value: "1995-12-01"}]
transforms:
  - name: out
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag, l_linestatus]
      aggregations:
        - input: li
          fields:
            - {name: sum_qty, op: sum, field: l_quantity}
            - {name: n_rows, op: count}
            - {name: n_big, op: count, condition: [{key: l_quantity, op: ">", value: 40}]}
            - {name: max_qty, op: max, field: l_quantity}
            - {name: min_qty, op: min, field: l_quantity}
      select:
        - {name: l_returnflag}
        - {name: l_linestatus}
        - {name: sum_qty}
        - {name: n_rows}
        - {name: n_big}
        - {name: max_qty}
        - {name: min_qty}
"""),

    // §2.4 filter condition tree (and/or/in/match) + §2.3 select
    "q2_filter" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: out
    module: filter
    inputs: [li]
    parameters:
      filter:
        and:
          - {key: l_quantity, op: ">", value: 45}
          - or:
              - {key: l_returnflag, op: in, value: [A, R]}
              - {key: l_linestatus, op: match, value: "^F"}
          - {key: l_shipdate, op: "<", value: "1996-01-01"}
      select:
        - {name: l_orderkey}
        - {name: l_linenumber}
        - {name: revenue, expression: "round(l_extendedprice * (1 - l_discount), 4)"}
        - {name: flag_status, func: concat, fields: [l_returnflag, l_linestatus], delimiter: "/"}
"""),

    // §2.10 sql module: join + aggregate through spark.sql
    "q3_sql_join" -> pipe("out", """
sources:
  - name: customer
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
  - name: nation
    module: storage
    parameters: {path: "${dir}/nation.parquet"}
transforms:
  - name: out
    module: sql
    inputs: [customer, orders, nation]
    parameters:
      sql: >
        SELECT n.n_name, count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_price
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY n.n_name
"""),

    // §2.5 lookup: broadcast side-input join
    "q4_lookup" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
  - name: customer
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: out
    module: lookup
    inputs: [orders, customer]
    parameters:
      lookups:
        - {sideInput: customer, keyField: o_custkey, sideKeyField: c_custkey, name: cust}
      select:
        - {name: o_orderkey}
        - {name: c_name, field: cust.c_name}
        - {name: total2, expression: "round(o_totalprice * 2, 2)"}
"""),

    // §2.8 partition: filter-routed multi-output
    "q5_partition" -> pipe("parts.returned", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: parts
    module: partition
    inputs: [li]
    parameters:
      exclusive: true
      partitions:
        - name: returned
          filter: [{key: l_returnflag, op: "=", value: R}]
          select:
            - {name: l_orderkey}
            - {name: l_linenumber}
            - {name: l_quantity}
        - name: rest
"""),

    // §2.8 union: by-name n-ary union
    "q6_union" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: parts
    module: partition
    inputs: [li]
    parameters:
      partitions:
        - name: a
          filter: [{key: l_returnflag, op: "=", value: A}]
        - name: r
          filter: [{key: l_returnflag, op: "=", value: R}]
  - name: u
    module: union
    inputs: [parts.a, parts.r]
  - name: out
    module: select
    inputs: [u]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: l_linenumber}
        - {name: l_returnflag}
        - {name: src, field: __source_index, type: int32}
"""),

    // §2.8 unnest/flatten + tokenize: explode word tokens, count
    "q7_unnest" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: toks
    module: tokenize
    inputs: [docs]
    parameters:
      fields:
        - {field: text, name: token, pattern: "\\s+", lowercase: true}
  - name: flat
    module: unnest
    inputs: [toks]
    parameters: {flattenField: token}
  - name: out
    module: aggregation
    inputs: [flat]
    parameters:
      groupFields: [token]
      aggregations:
        - input: flat
          fields:
            - {name: n, op: count}
"""),

    // §2.7 window: lag / row_number / framed running sum
    "q8_window" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: w
    module: window
    inputs: [ev]
    parameters:
      groupFields: [user_id]
      orderField: ts
      fields:
        - {name: rn, func: row_number}
        - {name: prev_value, func: lag, field: value, offset: 1}
        - {name: run3, func: sum, field: value, range: {count: 3}}
  - name: out
    module: select
    inputs: [w]
    parameters:
      select:
        - {name: event_id}
        - {name: user_id}
        - {name: value}
        - {name: rn, type: int32}
        - {name: prev_value}
        - {name: run3r, expression: "round(run3, 4)"}
"""),

    // rolling order statistics: per-user median / P90 smoothing over
    // a trailing 11-row frame, vs DuckDB's windowed quantile_cont
    "q90_rolling_median" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: w
    module: window
    inputs: [ev]
    parameters:
      groupFields: [user_id]
      orderField: ts
      fields:
        - {name: med, func: median, field: value, range: {count: 11}}
        - {name: p90, func: percentile, field: value, percentile: 0.9, range: {count: 11}}
  - name: out
    module: select
    inputs: [w]
    parameters:
      select:
        - {name: event_id}
        - {name: user_id}
        - {name: med_r, expression: "round(med, 4)"}
        - {name: p90_r, expression: "round(p90, 4)"}
"""),

    // §2.8 limit: per-key top-N with deterministic ordering
    "q9_limit" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: out
    module: limit
    inputs: [ev]
    parameters:
      count: 2
      keyFields: [user_id]
      orderFields: [value, event_id]
      order: descending
      select:
        - {name: user_id}
        - {name: event_id}
        - {name: value}
"""),

    // §2.6 first/last (min_by/max_by on event time)
    "q10_first_last" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters:
      path: "${dir}/events.parquet"
transforms:
  - name: out
    module: aggregation
    inputs: [ev]
    parameters:
      groupFields: [user_id]
      aggregations:
        - input: ev
          fields:
            - {name: first_value, op: first, field: value, orderField: ts}
            - {name: last_value, op: last, field: value, orderField: ts}
            - {name: last_type, op: argmax, field: event_type, comparingField: ts}
            - {name: first_type, op: argmin, field: event_type, comparingField: ts}
            - {name: uid_any, op: any, field: user_id}
            - {name: n, op: count}
"""),

    // §2.6 std/var + weighted avg
    "q11_stats" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      aggregations:
        - input: li
          fields:
            - {name: sd_samp, op: std, field: l_quantity, ddof: 1}
            - {name: sd_pop, op: std, field: l_quantity, ddof: 0}
            - {name: v_samp, op: std, field: l_quantity, ddof: 1, outputVar: true}
            - {name: wavg, op: avg, field: l_quantity, weightField: l_extendedprice}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: sd_samp_r, expression: "round(sd_samp, 4)"}
        - {name: sd_pop_r, expression: "round(sd_pop, 4)"}
        - {name: v_samp_r, expression: "round(v_samp, 4)"}
        - {name: wavg_r, expression: "round(wavg, 4)"}
"""),

    // parity-plus aggregation ops for the 100 TB layer: exact
    // distinct count, median and interpolated percentile (the approx
    // HLL/sketch twins are unit-tested for rsd accuracy instead —
    // their values are sketch-dependent and cannot hash-match SQL)
    "q80_agg_distinct" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      aggregations:
        - input: li
          fields:
            - {name: parts, op: count_distinct, field: l_partkey}
            - {name: med_qty, op: median, field: l_quantity}
            - {name: p90_price, op: percentile, field: l_extendedprice, percentile: 0.9}
            - {name: hi_parts, op: count_distinct, field: l_partkey, condition: [{key: l_quantity, op: ">", value: 25}]}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: parts}
        - {name: med_qty_r, expression: "round(med_qty, 4)"}
        - {name: p90_r, expression: "round(p90_price, 4)"}
        - {name: hi_parts}
"""),

    // subtotal lattice in one pass (rollup → Expand node), subtotal
    // rows disambiguated from null group values by __grouping_id
    "q81_rollup" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag, l_linestatus]
      groupType: rollup
      aggregations:
        - input: li
          fields:
            - {name: n, op: count}
            - {name: qty, op: sum, field: l_quantity}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: l_linestatus}
        - {name: gid, field: __grouping_id, type: int}
        - {name: n}
        - {name: qty_r, expression: "round(qty, 4)"}
"""),

    // §2.6 simple_regression via regr_* algebra
    "q12_regression" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [orders]
    parameters:
      groupFields: [o_orderpriority]
      aggregations:
        - input: orders
          fields:
            - {name: reg, op: simple_regression, field: o_totalprice, xField: o_custkey}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: o_orderpriority}
        - {name: slope_r, expression: "round(reg.slope, 6)"}
        - {name: icept_r, expression: "round(reg.intercept, 4)"}
        - {name: rmse_r, expression: "round(reg.rmse, 4)"}
"""),

    // §2.6 array_agg distinct + sorted
    "q13_array_agg" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      aggregations:
        - input: li
          fields:
            - {name: statuses_arr, op: array_agg, field: l_linestatus, distinct: true, order: ascending}
            - {name: n, op: count}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: statuses, func: concat, fields: [statuses_arr], delimiter: ","}
        - {name: n}
"""),

    // dedup exact: canonical docs by normalized content
    "q14_dedup_exact" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: exact, field: text, idField: doc_id, keep: canonical}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: source}
"""),

    // text analysis: token count + md5 content hash
    "q15_text_stats" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: ta
    module: textAnalysis
    inputs: [docs]
    parameters: {field: text, features: [tokens]}
  - name: out
    module: select
    inputs: [ta]
    parameters:
      select:
        - {name: doc_id}
        - {name: n_tokens, type: int32}
        - {name: text_md5, func: hash, field: text, algorithm: MD5}
"""),

    // §2.8 deserialize: JSON payload field → struct → aggregate
    "q16_json" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: de
    module: deserialize
    inputs: [ev]
    parameters:
      field: props
      outputField: p
      format: json
      schema: {fields: [{name: k, type: int64}]}
  - name: agg
    module: aggregation
    inputs: [de]
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: de
          fields:
            - {name: sum_k, op: sum, field: p.k}
            - {name: n, op: count}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: event_type}
        - {name: sum_k, type: int64}
        - {name: n}
"""),

    // §2.3 select function battery: nullif/switch/hash/base64
    "q17_select_funcs" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: select
    inputs: [orders]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: status_or_null, func: nullif, field: o_orderstatus,
           condition: [{key: o_orderstatus, op: "=", value: O}]}
        - {name: tier, func: switch, cases:
            [{when: [{key: o_totalprice, op: ">", value: 200000}], value: high},
             {when: [{key: o_totalprice, op: ">", value: 100000}], value: mid}],
           default: low}
        - {name: key_sha, func: hash, field: o_orderkey, algorithm: SHA-256}
        - {name: pri_b64, func: base64_encode, field: o_orderpriority}
"""),

    // §2.3 expression DSL: math funcs, if, timestamp_to_date
    "q18_expression" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: out
    module: select
    inputs: [li]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: l_linenumber}
        - {name: math_mix, expression: "round(sqrt(l_quantity) + log(l_extendedprice) + if(l_discount > 0.05, 1, 0) + min(l_tax, 0.04), 6)"}
        - {name: ship_epoch_day, expression: "timestamp_to_date(l_shipdate, 0)", type: int64}
"""),

    // §2.5 compare: full-outer field diff
    "q19_compare" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: v1
    module: select
    inputs: [orders]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: o_totalprice}
        - {name: o_orderstatus}
  - name: v2
    module: select
    inputs: [orders]
    parameters:
      filter: [{key: o_orderkey, op: "<", value: 999999}]
      select:
        - {name: o_orderkey}
        - {name: o_totalprice, expression: "if(o_totalprice > 150000, o_totalprice + 1, o_totalprice)"}
        - {name: o_orderstatus}
  - name: cmp
    module: compare
    inputs: [v1, v2]
    parameters:
      primaryKeyFields: [o_orderkey]
  - name: out
    module: aggregation
    inputs: [cmp]
    parameters:
      groupFields: [result]
      aggregations:
        - input: cmp
          fields:
            - {name: n, op: count}
"""),

    // dedup minhash LSH in hashAlgo:md5 mode — one md5 per gram +
    // Kirsch-Mitzenmacher lanes, fully replayed by the DuckDB oracle
    // (q34 likewise; q21/q22/q24/q33 have md5-mode replays too)
    "q20_dedup_minhash" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: minhash, field: text, idField: doc_id, hashAlgo: md5}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // dedup simhash in hashAlgo:md5 mode — per-token md5 bit votes,
    // DuckDB-replayed oracle
    "q21_dedup_simhash" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: simhash, field: text, idField: doc_id, hashAlgo: md5}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // transitive dedup: __dup_of resolved to the connected-component
    // minimum over the bucket pair set (hash-min propagation). simhash
    // picked because the sf0.01 corpus really chains there (119 links
    // whose min-partner label is itself a dup) — the oracle replays
    // the closure with a recursive CTE, so a depth-1 engine would
    // hash-mismatch.
    "q65_dedup_transitive" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: simhash, field: text, idField: doc_id, hashAlgo: md5, transitive: true}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // SemDeDup: k-means-cell embedding dedup with the external 16-id
    // codebook (q33c's), keep-farthest-from-centroid rep policy.
    // Assignment, rep choice and cosine verify all replay in DuckDB.
    "q66_dedup_semdedup" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [emb]
    parameters:
      method: semdedup
      field: embedding
      idField: vec_id
      threshold: 0.35
      codebookIds: [0, 31, 62, 93, 124, 155, 186, 217, 248, 279, 310, 341, 372, 403, 434, 465]
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: vec_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // cross-corpus dedup: flag "new" docs (id >= 100) whose minhash
    // band buckets collide with the "reference" corpus (id < 100) —
    // the dedup-new-crawl-against-training-set step. md5 replay mode;
    // the oracle joins the two sides' band keys exactly as the engine
    // does.
    "q69_dedup_cross" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: newdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: ">=", value: 100}]
  - name: refdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: "<", value: 100}]
  - name: dd
    module: dedup
    inputs: [newdocs, refdocs]
    parameters:
      method: minhash
      referenceInput: refdocs
      field: text
      idField: doc_id
      hashAlgo: md5
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // weighted corpus mixture: 2.5 epochs of "web", 1 of "code", a
    // 0.25 hash-sample of "wiki" — every leg a map-side filter (the
    // plan is a Union of filtered scans, zero shuffle), md5-bucket
    // fractional epochs replayed verbatim by the DuckDB oracle.
    "q67_mixture" -> pipe("mix", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, source]}
transforms:
  - name: web
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: source, op: in, value: [src0, src1, src2, src3, src4, src5, src6]}]
  - name: code
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: source, op: in, value: [src7, src8, src9, src10, src11, src12, src13]}]
  - name: wiki
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: source, op: in, value: [src14, src15, src16, src17, src18, src19]}]
  - name: mix
    module: mixture
    inputs: [web, code, wiki]
    parameters:
      keyFields: [doc_id]
      weights: {web: 2.5, code: 1.0, wiki: 0.25}
      sourceField: mix_source
      epochField: mix_epoch
"""),

    // Gopher rule-set filter: discrete per-rule quality signals +
    // keep conjunction. Paper-default thresholds except minWords (30:
    // the synthetic docs run 10-99 words) and minStopHits (1: the
    // synthetic vocabulary carries only "the" from Gopher's 8-word
    // list, so the default 2 would reject every doc and leave the
    // keep flag untested).
    "q68_gopher" -> pipe("ta", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: ta
    module: textAnalysis
    inputs: [docs]
    parameters:
      field: text
      features: [gopher]
      minWords: 30
      minStopHits: 1
      select:
        - {name: doc_id}
        - {name: gopher_n_words}
        - {name: gopher_mean_word_len}
        - {name: gopher_symbol_ratio}
        - {name: gopher_bullet_ratio}
        - {name: gopher_ellipsis_ratio}
        - {name: gopher_alpha_ratio}
        - {name: gopher_stop_hits}
        - {name: gopher_keep}
"""),

    // dedup embedding-cosine in md5 hyperplane mode — buckets + cosine
    // verify DuckDB-replayed. The test embeddings have no planted
    // near-dups (max pairwise cosine ~0.51), so 0.35/6-plane keeps the
    // verify selective while still exercising non-empty dup output.
    "q22_dedup_embedding" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [emb]
    parameters: {method: embedding, field: embedding, idField: vec_id, threshold: 0.35, planes: 6, hashAlgo: md5}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: vec_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // similarity: brute-force cosine top-k (oracle via list_cosine_similarity)
    "q23_knn" -> pipe("out", """
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
    parameters: {method: bruteforce, field: embedding, idField: vec_id, k: 5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

    // q23's search over a PRODUCT-QUANTIZED corpus index: 8 uint8
    // codes per 64-dim vector (32x smaller than float32), md5-seeded
    // per-subspace codebooks (fitIterations 0) so the whole index —
    // codebook selection, argmin-L2 encode, centroid-concat
    // reconstruction, cosine rank — replays in SQL value-for-value
    "q177_knn_pq" -> pipe("out", """
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
    parameters: {method: bruteforce, field: embedding, idField: vec_id, k: 5, pqM: 8, pqCodebookSize: 16, hashAlgo: md5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

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

    // ANN RECALL evaluation: the lsh approximate top-k scored
    // against the exact bruteforce ground truth on the same
    // (corpus, queries) — recall@k per query, the knob-tuning loop
    // (planes/tables vs recall) run before serving an index
    "q192_knn_recall" -> pipe("out", """
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
  - name: rec
    module: similarity
    inputs: [emb, q]
    parameters: {action: recall, method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5}
  - name: out
    module: select
    inputs: [rec]
    parameters:
      select:
        - {name: query_id}
        - {name: hits}
        - {name: exact_n}
        - {name: recall_r, expression: "round(recall, 6)"}
"""),

    // recall in the QUANTIZED regime: the pqM distortion a serving
    // deployment actually tunes, measured against the FLOAT
    // bruteforce ground truth (the strip logic keeps pqM on the
    // approx side only). Fixture recall is 0.0–0.2 — the gate
    // proves the evaluator measures loss, not that it echoes 1.0
    "q195_recall_pq" -> pipe("out", """
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
  - name: rec
    module: similarity
    inputs: [emb, q]
    parameters: {action: recall, method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5, pqM: 8, pqCodebookSize: 16}
  - name: out
    module: select
    inputs: [rec]
    parameters:
      select:
        - {name: query_id}
        - {name: hits}
        - {name: exact_n}
        - {name: recall_r, expression: "round(recall, 6)"}
"""),

    // recall under COARSE pruning: ivf with nProbe 2 of 8 cells —
    // the cell-miss loss nProbe trades against query cost. Fixture
    // recall spans 0.0–0.8 across the query set
    "q196_recall_ivf" -> pipe("out", """
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
  - name: rec
    module: similarity
    inputs: [emb, q]
    parameters: {action: recall, method: ivf, field: embedding, idField: vec_id, k: 5, centroids: 8, nProbe: 2, hashAlgo: md5}
  - name: out
    module: select
    inputs: [rec]
    parameters:
      select:
        - {name: query_id}
        - {name: hits}
        - {name: exact_n}
        - {name: recall_r, expression: "round(recall, 6)"}
"""),

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

    // similarity: LSH-bucketed ANN in hashAlgo:md5 mode — plane
    // derivation, bucket assignment, cosine and top-k all replay in
    // the DuckDB oracle
    "q24_knn_lsh" -> pipe("out", """
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
    parameters: {method: lsh, field: embedding, idField: vec_id, k: 5, planes: 6, tables: 8, hashAlgo: md5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

    // §2.1 create source: distributed sequence generation
    "q26_create_seq" -> pipe("out", """
sources:
  - name: seq
    module: create
    parameters: {from: 1, to: 1000, interval: 1, type: int64}
transforms:
  - name: out
    module: select
    inputs: [seq]
    parameters:
      select:
        - {name: value}
        - {name: sq, expression: "value * value"}
"""),

    // §2.8 crypto: aes round-trip is the identity (oracle-checkable)
    "q27_crypto_roundtrip" -> pipe("out", """
sources:
  - name: c
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: enc
    module: crypto
    inputs: [c]
    parameters: {mode: encrypt, key: "0123456789abcdef", fields: [c_name], suffix: _e}
  - name: dec
    module: crypto
    inputs: [enc]
    parameters: {mode: decrypt, key: "0123456789abcdef", fields: [c_name_e], suffix: _d}
  - name: out
    module: select
    inputs: [dec]
    parameters:
      select:
        - {name: c_custkey}
        - {name: c_name_dec, field: c_name_e_d}
"""),

    // §2.3 bytes_encode/decode round-trip (HBase-style big-endian)
    "q28_bytes_roundtrip" -> pipe("out", """
sources:
  - name: c
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: enc
    module: select
    inputs: [c]
    parameters:
      select:
        - {name: c_custkey}
        - {name: b, func: bytes_encode, field: c_acctbal}
  - name: out
    module: select
    inputs: [enc]
    parameters:
      select:
        - {name: c_custkey}
        - {name: bal_rt, func: bytes_decode, field: b, type: float64}
"""),

    // §2.3 json / json_path select funcs
    "q29_json_funcs" -> pipe("out", """
sources:
  - name: n
    module: storage
    parameters: {path: "${dir}/nation.parquet"}
transforms:
  - name: mk
    module: select
    inputs: [n]
    parameters:
      select:
        - {name: n_nationkey}
        - {name: n_name}
        - {name: m, func: map, fields: [n_name, n_regionkey]}
  - name: out
    module: select
    inputs: [mk]
    parameters:
      select:
        - {name: n_nationkey}
        - {name: j, func: json, fields: [n_nationkey, n_name]}
        - {name: name_back, func: json_path, field: j, path: "$.n_name"}
        - {name: mj, func: json, field: m}
"""),

    // §2.3 text template (FreeMarker-subset interpolation)
    "q30_template" -> pipe("out", """
sources:
  - name: o
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: select
    inputs: [o]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: msg, func: text, text: "order ${o_orderkey} is ${o_orderpriority}"}
"""),

    // §2.9 fixed event-time window aggregation (batch form). `ts` is
    // consumed directly via strategy.timestampField — the engine's
    // Strategy.toTimestamp path is unit-agnostic (typed timestamp,
    // TIMESTAMP_NTZ, or integral epoch at any ns/µs/ms/s magnitude),
    // so the gate no longer depends on the file's physical encoding.
    "q31_fixed_window" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: fixed, unit: hour, size: 6}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: win_start, expression: "window.start / 1000000", type: int64}
        - {name: event_type}
        - {name: n}
        - {name: total_r, expression: "round(total, 4)"}
"""),

    // §2.9 calendar window (date_trunc day, UTC) — ts consumed via
    // the unit-agnostic strategy.timestampField path (see q31)
    "q32_calendar_window" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: calendar, unit: day}
    parameters:
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: uniq_users, op: array_agg, field: user_id, distinct: true, order: ascending}
  - name: day
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: day0, field: window, type: date}
        - {name: n}
        - {name: uniq_users}
  - name: out
    module: select
    inputs: [day]
    parameters:
      select:
        - {name: day_str, field: day0, type: string}
        - {name: n}
        - {name: uniq_users, func: concat, fields: [uniq_users], delimiter: ","}
"""),

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

    // §2.9 anchored N-unit calendar windows (reference
    // CalendarWindows size/startDate): 3-day buckets anchored at
    // 2024-01-05 — floor-division day arithmetic, pre-anchor events
    // land in correctly negative buckets (2024-01-02 start)
    "q78_calendar_anchored" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: calendar, unit: day, size: 3, startDate: "2024-01-05"}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
            - {name: total, op: sum, field: value}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: bucket, field: window, type: date}
        - {name: event_type}
        - {name: n}
        - {name: total_r, expression: "round(total, 4)"}
"""),

    // duplicated-substring filtering (Lee et al. 2021 style): every
    // third doc gets a shared boilerplate tail so its 8-token spans
    // collide across ~170 docs; the engine's per-doc duplicated-span
    // fraction must match the oracle's string-level recomputation
    // (hashes collide with strings only at 2^-64)
    "q79_dedup_spans" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN concat(text, ' terms of service apply all rights reserved contact us at example dot com for details') ELSE text END AS text FROM docs"
  - name: dd
    module: dedup
    inputs: [prep]
    parameters: {method: spans, field: text, idField: doc_id, spanTokens: 8, stride: 1, minCount: 2}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: frac_r, expression: "round(__dup_span_fraction, 6)"}
"""),

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

    // mergeable HLL distinct sketches: per-(flag, status) sketches
    // union up to per-flag estimates — the incremental two-stage
    // distinct pattern. The counted domain is bounded (mod 97) so
    // the sketch stays in exact coupon mode at EVERY sf and the
    // rounded estimate must EQUAL the oracle's count(DISTINCT);
    // unbounded-cardinality accuracy is ApproxAggSpec's job
    "q87_hll_sketch" -> pipe("fin", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [li]
    parameters:
      sql: "SELECT l_returnflag, l_linestatus, l_suppkey % 97 AS sk0 FROM li"
  - name: pre
    module: aggregation
    inputs: [prep]
    parameters:
      groupFields: [l_returnflag, l_linestatus]
      aggregations:
        - input: prep
          fields:
            - {name: sk, op: hll_sketch, field: sk0}
  - name: merged
    module: aggregation
    inputs: [pre]
    parameters:
      groupFields: [l_returnflag]
      aggregations:
        - input: pre
          fields:
            - {name: u, op: hll_union, field: sk}
  - name: out
    module: select
    inputs: [merged]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: est, field: u, func: hll_estimate}
  - name: fin
    module: sql
    inputs: [out]
    parameters:
      sql: "SELECT l_returnflag, CAST(round(est) AS BIGINT) AS suppliers FROM out"
"""),

    // edit distance over all nation-name pairs (fuzzy-match QA),
    // with the banded threshold variant alongside
    "q88_levenshtein" -> pipe("out", """
sources:
  - name: na
    module: storage
    parameters: {path: "${dir}/nation.parquet"}
transforms:
  - name: pairs
    module: sql
    inputs: [na]
    parameters:
      sql: "SELECT a.n_name AS n1, b.n_name AS n2 FROM na a JOIN na b ON a.n_nationkey < b.n_nationkey"
  - name: out
    module: select
    inputs: [pairs]
    parameters:
      select:
        - {name: n1}
        - {name: n2}
        - {name: dist, func: levenshtein, fields: [n1, n2]}
        - {name: dist3, func: levenshtein, fields: [n1, n2], threshold: 3}
"""),

    // Jaro-Winkler over the same pairs — the native expression must
    // reproduce DuckDB's implementation to 6 decimals
    "q89_jaro_winkler" -> pipe("fin", """
sources:
  - name: na
    module: storage
    parameters: {path: "${dir}/nation.parquet"}
transforms:
  - name: pairs
    module: sql
    inputs: [na]
    parameters:
      sql: "SELECT a.n_name AS n1, b.n_name AS n2 FROM na a JOIN na b ON a.n_nationkey < b.n_nationkey"
  - name: out
    module: select
    inputs: [pairs]
    parameters:
      select:
        - {name: n1}
        - {name: n2}
        - {name: sim, func: jaro_winkler, fields: [n1, n2]}
  - name: fin
    module: sql
    inputs: [out]
    parameters:
      sql: "SELECT n1, n2, round(sim, 6) AS sim_r FROM out"
"""),

    // unicode canonicalization: a decomposed 'é' (65 CC81) appended
    // to every doc must NFC-fold to the precomposed form and
    // strip_accents to the bare letter, matching DuckDB's
    // nfc_normalize / strip_accents on the same bytes
    "q86_normalize" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, concat(text, ' caf', decode(unhex('65CC81'), 'UTF-8')) AS text FROM docs"
  - name: out
    module: select
    inputs: [prep]
    parameters:
      select:
        - {name: doc_id}
        - {name: nfc, field: text, func: normalize, form: NFC}
        - {name: bare, field: text, func: normalize, form: strip_accents}
"""),

    // pivot: spread l_linestatus into columns with explicit values
    // (single-pass plan, no distinct scan)
    "q84_pivot" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: pv
    module: pivot
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      pivotField: l_linestatus
      values: [O, F]
      aggregations:
        - {name: qty, op: sum, field: l_quantity}
        - {name: n, op: count}
  - name: out
    module: select
    inputs: [pv]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: o_qty_r, expression: "round(O_qty, 4)"}
        - {name: o_n, field: O_n}
        - {name: f_qty_r, expression: "round(F_qty, 4)"}
        - {name: f_n, field: F_n}
"""),

    // unpivot: melt three measure columns into (metric, value) rows
    // — a zero-shuffle Expand
    "q85_unpivot" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: up
    module: unpivot
    inputs: [li]
    parameters:
      idFields: [l_orderkey, l_linenumber]
      valueFields: [l_quantity, l_discount, l_tax]
      variableField: metric
      valueField: v
  - name: out
    module: select
    inputs: [up]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: l_linenumber}
        - {name: metric}
        - {name: v_r, expression: "round(v, 4)"}
"""),

    // as-of join (parity-plus): every event picks up the latest
    // sparse dimension row at or before it, per event_type, within a
    // 2-day tolerance — one union + window pass, checked against
    // DuckDB's native ASOF LEFT JOIN
    "q83_asof" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: dim
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_type, ts AS dim_ts, max(value) AS ref_value FROM ev WHERE event_id % 37 = 0 GROUP BY event_type, ts"
  - name: aj
    module: asof
    inputs: [ev, dim]
    parameters: {by: [event_type], leftOn: ts, rightOn: dim_ts, direction: backward, tolerance: 2d}
  - name: out
    module: select
    inputs: [aj]
    parameters:
      select:
        - {name: event_id}
        - {name: event_type}
        - {name: ref_r, expression: "round(right_ref_value, 4)"}
        - {name: gap_s, expression: "(ts - right_dim_ts) / 1000000"}
"""),

    // §2.9 ACCUMULATING accumulation, exact engine (exactPanes):
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
      exactPanes: true
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
      exactPanes: true
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
      exactPanes: true
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
      exactPanes: true
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
      exactPanes: true
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
      exactPanes: true
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
      exactPanes: true
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

    // similarity: IVF ANN with the md5-seeded AUTO-FIT codebook —
    // the engine derives the 16 centroids from the corpus itself
    // (smallest md5(vec_id)), so unlike the external-codebook twin
    // q33c no centroid list is configured and the whole index is
    // still value-checkable in SQL
    "q33_knn_ivf" -> pipe("out", """
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
    parameters: {method: ivf, field: embedding, idField: vec_id, k: 5, centroids: 16, nProbe: 6, hashAlgo: md5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

    // dedup ngram-Jaccard in hashAlgo:md5 mode — K-M lane signatures,
    // banded candidates and the Jaccard verify replay in DuckDB
    "q34_dedup_ngram" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: ngram, field: text, idField: doc_id, ngramSize: 5, threshold: 0.7, hashAlgo: md5}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // §2.6 aggregation over expression inputs + per-op condition combo
    "q35_agg_expression" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      aggregations:
        - input: li
          fields:
            - {name: revenue, op: sum, expression: "l_extendedprice * (1 - l_discount)"}
            - {name: disc_rev, op: sum, expression: "l_extendedprice * (1 - l_discount)",
               condition: [{key: l_discount, op: ">", value: 0.03}]}
            - {name: max_charge, op: max, expression: "l_extendedprice * (1 - l_discount) * (1 + l_tax)"}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: revenue_r, expression: "round(revenue, 2)"}
        - {name: disc_rev_r, expression: "round(disc_rev, 2)"}
        - {name: max_charge_r, expression: "round(max_charge, 4)"}
"""),

    // §2.8 union with mappings rename table
    "q36_union_mappings" -> pipe("out", """
sources:
  - name: c
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
  - name: s
    module: storage
    parameters: {path: "${dir}/supplier.parquet"}
transforms:
  - name: u
    module: union
    inputs: [c, s]
    parameters:
      mappings:
        - outputField: entity_key
          inputs:
            - {input: c, field: c_custkey}
            - {input: s, field: s_suppkey}
        - outputField: entity_name
          inputs:
            - {input: c, field: c_name}
            - {input: s, field: s_name}
  - name: out
    module: select
    inputs: [u]
    parameters:
      select:
        - {name: entity_key, type: int64}
        - {name: entity_name}
        - {name: kind, field: __source_name}
"""),

    // §2.8 limit: reference default first-N ascending by event time
    "q37_limit_first" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: out
    module: limit
    inputs: [ev]
    parameters:
      count: 3
      keyFields: [user_id]
      orderField: ts
      order: ascending
      select:
        - {name: user_id}
        - {name: event_id}
"""),

    // §2.9 session window (gap 30 min) — oracle via gaps-and-islands;
    // ts consumed via the unit-agnostic strategy path (see q31)
    "q38_session_window" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: session, unit: minute, gap: 30}
    parameters:
      groupFields: [user_id]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: user_id}
        - {name: sess_start, expression: "window.start / 1000000", type: int64}
        - {name: n}
"""),

    // §2.9 sliding window (2h size / 1h period): each event lands in
    // size/period overlapping windows; ts via the unit-agnostic
    // strategy path (see q31)
    "q39_sliding_window" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      window: {type: sliding, unit: hour, size: 2, period: 1}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: win_start, expression: "window.start / 1000000", type: int64}
        - {name: event_type}
        - {name: n}
"""),

    // language id + quality (oracled: the heuristic formulas are
    // plain arithmetic, re-expressed in the DuckDB SQL)
    "q25_langid" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: ta
    module: textAnalysis
    inputs: [docs]
    parameters: {field: text, features: [language, quality]}
  - name: out
    module: aggregation
    inputs: [ta]
    parameters:
      groupFields: [lang_id]
      aggregations:
        - input: ta
          fields:
            - {name: n, op: count}
            - {name: avg_q, op: avg, expression: "round(quality, 2)"}
"""),

    // §2.7 processing processors: rolling per-key OLS + FIR smoother.
    // xsec derives from the expression-compiler's documented
    // timestamp→epoch-micros convention (expr/ExprCompiler.scala
    // toDouble), so /1e6 yields seconds for any TYPED timestamp
    // encoding (TIMESTAMP or TIMESTAMP_NTZ — the testdata pin; see
    // TimestampEncodingSpec). An int64-epoch regeneration would pass
    // the raw value through instead — the Verify stderr probe and
    // the encoding spec's pin both flag that before this gate could
    // silently diverge. The oracle mirrors with epoch_us(ts)/1e6 —
    // bit-identical double arithmetic on both sides.
    "q41_rolling_regression" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: xs
    module: select
    inputs: [ev]
    parameters:
      select:
        - {name: user_id}
        - {name: event_id}
        - {name: ts}
        - {name: value}
        - {name: xsec, expression: "ts / 1000000"}
  - name: w
    module: window
    inputs: [xs]
    parameters:
      groupFields: [user_id]
      orderField: ts
      fields:
        - {name: reg, func: linear_regression, field: value, xField: xsec, range: {count: 5}}
        - {name: sm, func: linear_filter, field: value, coefficients: [0.6, 0.4]}
  - name: out
    module: select
    inputs: [w]
    parameters:
      select:
        - {name: user_id}
        - {name: event_id}
        - {name: slope_r, expression: "round(reg.slope, 6) + 0"}
        - {name: sm_r, expression: "round(sm, 6) + 0"}
"""),

    // tokenize analyzer chain (lowercase + stop + length + shingles) —
    // the DuckDB-replicable subset; Porter/ngram filters stay unit-only
    "q42_tokenize_chain" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: tk
    module: tokenize
    inputs: [docs]
    parameters:
      fields:
        - name: toks
          input: text
          tokenizer: {type: WhitespaceTokenizer}
          filters:
            - {type: LowerCaseFilter}
            - {type: StopFilter, words: [the, and, of]}
            - {type: LengthFilter, min: 3, max: 12}
            - {type: ShingleFilter, minShingleSize: 2, maxShingleSize: 2,
               outputUnigrams: false}
  - name: out
    module: select
    inputs: [tk]
    parameters:
      select:
        - {name: doc_id}
        - {name: joined, func: concat, fields: [toks], delimiter: "|"}
"""),

    // §2.8 set ops: intersect / except (DISTINCT set semantics, like
    // SQL INTERSECT/EXCEPT without ALL)
    "q43_set_ops" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: keys
    module: select
    inputs: [ev]
    parameters:
      select:
        - {name: user_id}
        - {name: event_type}
  - name: big
    module: filter
    inputs: [keys]
    parameters:
      filter: {key: user_id, op: "<", value: 300}
  - name: clicky
    module: filter
    inputs: [keys]
    parameters:
      filter: {key: event_type, op: in, value: [click, view]}
  - name: inter
    module: set
    inputs: [big, clicky]
    parameters: {op: intersect}
  - name: diff
    module: set
    inputs: [big, clicky]
    parameters: {op: except}
  - name: iflag
    module: select
    inputs: [inter]
    parameters:
      select:
        - {name: user_id}
        - {name: event_type}
        - {name: src, value: "i", type: string}
  - name: dflag
    module: select
    inputs: [diff]
    parameters:
      select:
        - {name: user_id}
        - {name: event_type}
        - {name: src, value: "d", type: string}
  - name: both
    module: union
    inputs: [iflag, dflag]
  - name: out
    module: select
    inputs: [both]
    parameters:
      select:
        - {name: user_id}
        - {name: event_type}
        - {name: src}
"""),

    // §2.8 deserialize csv: template-encode → parse round trip
    "q44_deserialize_csv" -> pipe("out", """
sources:
  - name: o
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: enc
    module: select
    inputs: [o]
    parameters:
      select:
        - {name: line, func: text, text: "${o_orderkey},${o_orderstatus},${o_totalprice}"}
  - name: dec
    module: deserialize
    inputs: [enc]
    parameters:
      field: line
      format: csv
      flatten: true
      schema:
        fields:
          - {name: k, type: int64}
          - {name: st, type: string}
          - {name: tp, type: float64}
  - name: out
    module: select
    inputs: [dec]
    parameters:
      select:
        - {name: k}
        - {name: st}
        - {name: tp}
"""),

    // §2.10 sql module with the reference's MDT_* UDF/UDAF surface
    "q45_sql_mdt" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: out
    module: sql
    inputs: [li]
    parameters:
      sql: "SELECT l_returnflag, array_join(array_sort(MDT_ARRAY_AGG_DISTINCT_STRING(l_linestatus)), ',') AS ls, MDT_COUNT_DISTINCT_STRING(l_linestatus) AS n, MDT_GREATEST_INT64(max(l_orderkey), 100) AS mx, MDT_LEAST_FLOAT64(round(min(l_extendedprice), 2), 1e9) AS mn FROM li GROUP BY l_returnflag"
"""),

    // §2.6 aggregation post-limit: per-key top-N via the full Limit
    // config (count + keyFields + orderField)
    "q46_agg_limit" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: agg
    module: aggregation
    inputs: [li]
    parameters:
      groupFields: [l_returnflag, l_linestatus]
      aggregations:
        - input: li
          fields:
            - {name: total, op: sum, field: l_extendedprice}
      limit: {count: 1, keyFields: [l_returnflag], orderField: total, order: descending}
  - name: out
    module: select
    inputs: [agg]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: l_linestatus}
        - {name: total_r, expression: "round(total, 2)"}
"""),

    // §2.3 scrape round-trip: text template renders HTML, scrape
    // extracts text / attribute / nested-field struct back out
    "q47_scrape" -> pipe("out", """
sources:
  - name: o
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: mk
    module: select
    inputs: [o]
    parameters:
      select:
        - {name: html, func: text, text: '<div class="o"><span class="k">${o_orderkey}</span><a href="/o/${o_orderkey}">${o_orderstatus}</a></div>'}
  - name: sc
    module: select
    inputs: [mk]
    parameters:
      select:
        - {name: key_txt, func: scrape, field: html, selector: "span.k"}
        - {name: href, func: scrape, field: html, selector: "a", attribute: href}
        - name: item
          func: scrape
          field: html
          selector: "div.o"
          fields:
            - {name: label, selector: "a"}
  - name: out
    module: sql
    inputs: [sc]
    parameters:
      sql: "SELECT key_txt, href, item.label AS label FROM sc"
"""),

    // §2.11 select error routing: rows whose cast nulls out a non-null
    // input split to .failures; main output = successfully-cast rows
    // (TRY_CAST semantics in the oracle)
    "q40_try_cast" -> pipe("out", """
sources:
  - name: o
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: mk
    module: select
    inputs: [o]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: flag3, expression: "o_orderkey % 3"}
        - {name: sx, func: text, text: "x${o_orderkey}"}
        - {name: sok, func: text, text: "${o_orderkey}"}
        - name: s
          func: switch
          cases:
            - {when: {key: flag3, op: "=", value: 0}, field: sx}
            - {when: {key: flag3, op: ">=", value: 0}, field: sok}
  - name: out
    module: select
    inputs: [mk]
    outputFailure: true
    parameters:
      select:
        - {name: o_orderkey}
        - {name: v, field: s, type: int64}
"""),

    // training-data decontamination: flag corpus docs sharing any
    // 8-word-gram with a benchmark subset (broadcast gram semi-join)
    "q48_decontaminate" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: bench
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: dd
    module: dedup
    inputs: [docs, bench]
    parameters: {method: decontaminate, field: text, idField: doc_id, ngramSize: 8}
  - name: out
    module: sql
    inputs: [dd]
    parameters:
      sql: "SELECT doc_id, __contaminated AS contaminated FROM dd"
"""),

    // q48 twin forced onto the BLOOM path (broadcastThreshold: 1):
    // the over-limit benchmark broadcasts a bloom filter, corpus
    // grams prefilter map-side, survivors exact-verify — results must
    // be identical to the broadcast path (the bloom only pre-prunes)
    "q98_decontaminate_bloom" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: bench
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: dd
    module: dedup
    inputs: [docs, bench]
    parameters: {method: decontaminate, field: text, idField: doc_id, ngramSize: 8, broadcastThreshold: 1}
  - name: out
    module: sql
    inputs: [dd]
    parameters:
      sql: "SELECT doc_id, __contaminated AS contaminated FROM dd"
"""),

    // training-data op: deterministic weighted reservoir (k per
    // stratum, Efraimidis–Spirakis u^(1/w) exponential keys over the
    // md5 uniform) — price-weighted 20-order sample per priority;
    // the oracle replays the identical hex→uniform→rank arithmetic
    "q99_sample_weighted" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: sample
    inputs: [ord]
    parameters:
      keyFields: [o_orderkey]
      k: 20
      weightField: o_totalprice
      groupFields: [o_orderpriority]
      select:
        - {name: o_orderkey}
        - {name: o_orderpriority}
"""),

    // training-data op: deterministic 80/10/10 dataset split — the
    // md5-uniform of the key maps to the first label whose
    // cumulative ratio covers it (reproducible, partition-
    // independent, engine-replayable; same hex-threshold machinery
    // as the sample module)
    "q100_split" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: select
    inputs: [ord]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: split, func: split, fields: [o_orderkey],
           ratios: {train: 0.8, val: 0.1, test: 0.1}}
"""),

    // Gopher-style repetition/symbol signals over documents with
    // synthetic line breaks + symbols injected by SQL upstream
    "q49_repetition" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, replace(text, ' the ', concat(chr(10), '#... the ')) AS text FROM docs"
  - name: ta
    module: textAnalysis
    inputs: [prep]
    parameters: {field: text, features: [repetition]}
  - name: out
    module: sql
    inputs: [ta]
    parameters:
      sql: "SELECT doc_id, round(dup_line_frac, 6) AS dlf, round(dup_word_frac, 6) AS dwf, round(top_bigram_frac, 6) AS tbf, round(symbol_ratio, 6) AS sr FROM ta"
"""),

    // CCNet-style line-level boilerplate dedup: a shared nav header
    // on every doc + a footer shared by each doc_id%5 class are
    // stripped; unique body lines survive
    "q50_dedup_lines" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, concat('NAV HOME SEARCH', chr(10), text, chr(10), 'copyright footer ', CAST(doc_id % 5 AS STRING)) AS text FROM docs"
  - name: dd
    module: dedup
    inputs: [prep]
    parameters: {method: lines, field: text, idField: doc_id, minCount: 4}
  - name: out
    module: sql
    inputs: [dd]
    parameters:
      sql: "SELECT doc_id, text, __removed_lines AS removed FROM dd"
"""),

    // deterministic hash sampling: stratified keep-rates per
    // l_returnflag, reproducible cross-engine (md5-bucket predicate)
    "q51_sample" -> pipe("smp", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: proj
    module: select
    inputs: [li]
    parameters:
      select:
        - {name: l_orderkey}
        - {name: l_linenumber}
        - {name: l_returnflag}
  - name: smp
    module: sample
    inputs: [proj]
    parameters:
      keyFields: [l_orderkey, l_linenumber]
      stratifyField: l_returnflag
      fraction: 1.0
      rates: {A: 0.2, N: 0.05, R: 1.0}
"""),

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

    // sequence packing: greedy per-partition token-budget bins. WHICH
    // sequence a doc lands in depends on the partition layout, so the
    // gate emits only partition-INVARIANT aggregates plus a
    // packing-invariant check the oracle can assert: every
    // non-oversize sequence fits the budget, every oversize doc is
    // alone in its sequence, and the sequence count reaches the
    // ceil(total/budget) lower bound. The unit spec asserts exact
    // packing on a known partition layout.
    "q52_pack" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: pk
    module: pack
    inputs: [docs]
    parameters: {field: text, tokenBudget: 512}
  - name: out
    module: sql
    inputs: [pk]
    parameters:
      sql: "WITH s AS (SELECT __sequence_id, sum(__tokens) AS raw_toks, sum(greatest(__tokens, 1)) AS st, count(*) AS docs, max(CASE WHEN __oversize THEN 1 ELSE 0 END) AS os FROM pk GROUP BY __sequence_id) SELECT sum(docs) AS n_docs, sum(raw_toks) AS total_tokens, sum(CASE WHEN os = 1 THEN docs ELSE 0 END) AS n_oversize, CAST(sum(CASE WHEN os = 0 AND st > 512 THEN 1 ELSE 0 END) = 0 AND sum(CASE WHEN os = 1 AND docs > 1 THEN 1 ELSE 0 END) = 0 AND count(*) >= ceil(sum(st) / 512.0) AS BOOLEAN) AS packed_ok FROM s"
"""),

    // pack with materialize: one row per training sequence (docs
    // joined in pack order). Sequence COUNT is partition-dependent,
    // so the gate checks the partition-INDEPENDENT invariants: doc
    // and token conservation, budget respected for non-oversize
    // sequences, oversize sequences are singletons, and the
    // materialized text's own whitespace token count equals the RAW
    // accounting (__raw_tokens, not the budget-charged __tokens: an
    // empty doc is charged 1 budget token the joined text cannot
    // reproduce; the separator adds no tokens either way)
    "q101_pack_materialized" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: pk
    module: pack
    inputs: [docs]
    parameters: {field: text, tokenBudget: 512, materialize: true}
  - name: out
    module: sql
    inputs: [pk]
    parameters:
      sql: "SELECT CAST(sum(__n_docs) AS BIGINT) AS n_docs, CAST(sum(__raw_tokens) AS BIGINT) AS total_tokens, CAST(max(CASE WHEN NOT __oversize THEN __tokens ELSE 0 END) <= 512 AS BOOLEAN) AS within_budget, CAST(sum(CASE WHEN __oversize AND __n_docs > 1 THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS oversize_singleton, CAST(sum(CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE size(split(trim(text), '\\\\s+')) END) != __raw_tokens THEN 1 ELSE 0 END) = 0 AS BOOLEAN) AS tokens_conserved FROM pk"
"""),

    // int8 embedding quantization roundtrip: the q values are exact
    // integers both engines derive from identical double arithmetic
    // (max|v|/127 scale, round half-away-from-zero in both), and the
    // reconstruction-error bound is asserted engine-side
    "q102_quantize" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: qz
    module: select
    inputs: [emb]
    parameters:
      select:
        - {name: vec_id}
        - {name: qv, field: embedding, func: quantize}
        - {name: dq, field: qv, func: dequantize}
        - {name: emb, field: embedding}
  - name: out
    module: sql
    inputs: [qz]
    parameters:
      sql: "SELECT vec_id, array_join(qv.q, ',') AS q_s, CAST(aggregate(zip_with(dq, emb, (a, b) -> abs(CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), 0D, (acc, x) -> greatest(acc, x)) <= qv.scale / 2 + 1e-12 AS BOOLEAN) AS recon_ok FROM qz"
"""),

    // graph connectedComponents: chain edges k -> k+1 within blocks
    // of 10 over the contiguous o_orderkey domain — every vertex's
    // component is analytically floor(v/10)*10, so the pointer-
    // jumping closure (10-deep chains force real multi-hop
    // propagation) checks against a closed-form oracle
    "q103_components" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9"
  - name: out
    module: graph
    inputs: [ed]
    parameters: {method: connectedComponents, srcField: src, dstField: dst}
"""),

    // content-defined chunking (FastCDC-family): a boundary falls
    // after token i when md5(seed ‖ last-8-token window) lands under
    // the 1/2^5 hex threshold — expected 32-token chunks whose
    // boundaries move WITH the content (dedup-stable chunking). The
    // oracle replays the window fingerprints, the boundary filter,
    // and the start/end slicing
    "q116_chunk_cdc" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: out
    module: chunk
    inputs: [docs]
    parameters:
      mode: cdc
      field: text
      window: 8
      bits: 5
      hashAlgo: md5
      select:
        - {name: doc_id}
        - {name: chunk}
        - {name: chunk_index}
        - {name: chunk_offset}
"""),

    // url select func: decompose synthesized crawl URLs into host /
    // path / protocol / a named query value — the host-keyed dedup
    // and TLD-filter primitive; the oracle rebuilds each part from
    // the same closed-form synthesis arithmetic
    "q115_url_parts" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: u
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, concat('https://host', CAST(doc_id % 50 AS STRING), '.example', CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END, '/p/', CAST(doc_id % 7 AS STRING), '/page?q=', CAST(doc_id % 11 AS STRING), '&lang=en') AS url FROM docs"
  - name: out
    module: select
    inputs: [u]
    parameters:
      select:
        - {name: doc_id}
        - {name: host, field: url, func: url, part: host}
        - {name: path, field: url, func: url, part: path}
        - {name: proto, field: url, func: url, part: protocol}
        - {name: qv, field: url, func: url, part: query, key: q}
"""),

    // §2.6 mergeable quantile sketches, two-stage: per-bucket
    // kll_sketch of o_totalprice merges through kll_merge and a
    // kll_quantile select reads the median — the incremental
    // percentile pattern (sketch per day, merge at read), third
    // sketch family after HLL (q87) and frequent-items (q96). Groups
    // of ~75 values with k=200 retain EVERYTHING, so the sketch
    // median is the exact ⌈n/2⌉-th order statistic the oracle takes
    // from a sorted list
    "q114_kll_sketch" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: bk
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT o_orderkey % 2000 AS g, o_custkey % 4 AS b, o_totalprice FROM ord"
  - name: a1
    module: aggregation
    inputs: [bk]
    parameters:
      groupFields: [g, b]
      aggregations:
        - input: bk
          fields:
            - {name: sk, op: kll_sketch, field: o_totalprice}
  - name: a2
    module: aggregation
    inputs: [a1]
    parameters:
      groupFields: [g]
      aggregations:
        - input: a1
          fields:
            - {name: sk2, op: kll_merge, field: sk}
  - name: qn
    module: select
    inputs: [a2]
    parameters:
      select:
        - {name: g}
        - {name: med, field: sk2, func: kll_quantile, fraction: 0.5}
  - name: out
    module: sql
    inputs: [qn]
    parameters:
      sql: "SELECT g, round(med, 4) AS med_r FROM qn"
"""),

    // decontaminate REPORT action: per-doc n-gram overlap fraction
    // against the benchmark (the eval-contamination metric) instead
    // of a boolean — same gram machinery as q48/q98, plus one
    // distinct-count per side; the oracle replays grams, the hit
    // join, and the ratio
    "q113_decontaminate_report" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: bench
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: dc
    module: dedup
    inputs: [docs, bench]
    parameters:
      method: decontaminate
      action: report
      field: text
      idField: doc_id
      ngramSize: 8
  - name: out
    module: sql
    inputs: [dc]
    parameters:
      sql: "SELECT doc_id, __grams_total AS grams_total, __grams_matched AS grams_matched, round(__overlap, 6) AS overlap_r FROM dc"
"""),

    // composed cdc recipe — the property cdc EXISTS for: chunk the
    // corpus plus a head-edited copy of every document, then
    // exact-dedup the chunks; content-defined boundaries
    // re-synchronize after the edit, so the edited copies' chunks
    // collapse onto the originals' (fixed strides would shift every
    // window and dedup nothing). Oracle replays union, cdc windows,
    // and min-id-per-normalized-chunk
    "q119_cdc_chunk_dedup" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dup
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs UNION ALL SELECT doc_id + 1000000 AS doc_id, concat('EDIT HEAD ', text) AS text FROM docs"
  - name: ck
    module: chunk
    inputs: [dup]
    parameters: {mode: cdc, field: text, window: 8, bits: 5, hashAlgo: md5}
  - name: cid
    module: sql
    inputs: [ck]
    parameters:
      sql: "SELECT CAST(doc_id * 100000 + chunk_index AS BIGINT) AS cid, chunk FROM ck"
  - name: dd
    module: dedup
    inputs: [cid]
    parameters: {method: exact, field: chunk, idField: cid, keep: canonical}
  - name: out
    module: sql
    inputs: [dd]
    parameters:
      sql: "SELECT cid FROM dd"
"""),

    // the flagship curation recipe — the individually-green pieces
    // chained the way a pretraining data pipeline actually runs them:
    // token-count quality gate (textAnalysis) → exact dedup (keep
    // canonical) → benchmark decontamination (action: remove, the
    // 1/97 eval sample) → deterministic train/val/test split. The
    // oracle replays every stage: the q15 token formula, the q14
    // min-id-per-normalized-text window, the q48 gram anti-join, and
    // the q100 md5 thresholds
    "q120_curation_recipe" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: ta
    module: textAnalysis
    inputs: [docs]
    parameters: {field: text, features: [tokens]}
  - name: fl
    module: sql
    inputs: [ta]
    parameters:
      sql: "SELECT doc_id, text, n_tokens FROM ta WHERE n_tokens BETWEEN 10 AND 2000"
  - name: dd
    module: dedup
    inputs: [fl]
    parameters: {method: exact, field: text, idField: doc_id, keep: canonical}
  - name: bench
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: dc
    module: dedup
    inputs: [dd, bench]
    parameters: {method: decontaminate, action: remove, field: text, idField: doc_id, ngramSize: 8}
  - name: out
    module: select
    inputs: [dc]
    parameters:
      select:
        - {name: doc_id}
        - {name: n_tokens}
        - {name: split, func: split, fields: [doc_id],
           ratios: {train: 0.8, val: 0.1, test: 0.1}}
"""),

    // element-wise vector mean-pooling (chunk embeddings → document
    // embedding, centroids over assigned members): a mergeable O(d)
    // custom Aggregator, partial-combined map-side like every
    // built-in agg — the oracle replays per-position averages
    "q121_vector_pool" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: ag
    module: aggregation
    inputs: [emb]
    parameters:
      groupFields: [label]
      aggregations:
        - input: emb
          fields:
            - {name: pooled, op: vector_avg, field: embedding}
            - {name: n, op: count}
  - name: out
    module: sql
    inputs: [ag]
    parameters:
      sql: "SELECT label, array_join(transform(pooled, x -> CASE WHEN x IS NULL THEN NULL ELSE format_string('%.4f', round(x, 4) + 0.0d) END), ',') AS pooled_r, n FROM ag"
"""),

    // mergeable theta set-sketches with set ALGEBRA: sketch per
    // (status, priority), theta_union per status — the two-stage
    // merge pattern of q87/q96/q114 — then intersection/difference
    // estimates BETWEEN the 'O' and 'F' sketches. lgK 15 keeps
    // ~14.5k distinct custkeys per side below the sampling
    // threshold, so every estimate is exact and the oracle pins the
    // true distinct-set counts
    "q122_theta_overlap" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: part
    module: aggregation
    inputs: [ord]
    parameters:
      groupFields: [o_orderstatus, o_orderpriority]
      aggregations:
        - input: ord
          fields:
            - {name: sk, op: theta_sketch, field: o_custkey, lgK: 15}
  - name: ag
    module: aggregation
    inputs: [part]
    parameters:
      groupFields: [o_orderstatus]
      aggregations:
        - input: part
          fields:
            - {name: sk, op: theta_union, field: sk, lgK: 15}
  - name: pair
    module: sql
    inputs: [ag]
    parameters:
      sql: "SELECT a.sk AS ska, b.sk AS skb FROM (SELECT sk FROM ag WHERE o_orderstatus = 'O') a CROSS JOIN (SELECT sk FROM ag WHERE o_orderstatus = 'F') b"
  - name: est
    module: select
    inputs: [pair]
    parameters:
      select:
        - {name: n_o, func: theta_estimate, field: ska}
        - {name: inter, func: theta_intersect, fields: [ska, skb]}
        - {name: only_o, func: theta_difference, fields: [ska, skb]}
  - name: out
    module: sql
    inputs: [est]
    parameters:
      sql: "SELECT CAST(round(n_o) AS BIGINT) AS n_o, CAST(round(inter) AS BIGINT) AS inter, CAST(round(only_o) AS BIGINT) AS only_o FROM est"
"""),

    // sentence-boundary chunking (mode: sentence): one chunk per
    // sentence with cumulative token offsets — the oracle replays the
    // lookaround-free segmentation regex, the trim+drop-empties
    // filter, and the offset fold. The synthetic corpus has no
    // punctuation, so the gate first injects it deterministically
    // (literal replace — identical semantics in both engines), giving
    // multi-sentence documents with ., ? and ! terminators
    "q123_chunk_sentence" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: px
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, replace(replace(replace(text, 'spark', 'spark.'), 'query', 'query?'), 'fast', 'fast!') AS text FROM docs"
  - name: ck
    module: chunk
    inputs: [px]
    parameters: {mode: sentence, field: text}
  - name: out
    module: sql
    inputs: [ck]
    parameters:
      sql: "SELECT doc_id, chunk, chunk_index, chunk_offset FROM ck"
"""),

    // ANN self-join (selfJoin: true): EVERY vector gets its top-k
    // neighbors — the semdedup / neighbor-graph primitive. IVF md5
    // audit mode keeps the whole index SQL-replayable (q33's
    // machinery with the query side = the full corpus); candidates
    // shuffle ids-only on the cell key, both vector re-attaches are
    // index joins, no broadcast-queries contract
    "q125_knn_selfjoin" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb]
    parameters: {method: ivf, selfJoin: true, field: embedding, idField: vec_id, k: 3, centroids: 32, nProbe: 2, hashAlgo: md5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

    // ANN self-join over the QUANTIZED int8 index: every vector is a
    // query AND both of its roles use the same dequantized
    // reconstruction (bucketing the query side on raw floats would
    // make candidate generation asymmetric on lossy embeddings — the
    // r13 advice finding this gate pins). Same md5-audit IVF chain
    // as q125; the oracle first replays round(v/scale)·scale per
    // embedding (the q105 formula), then assigns cells and ranks
    // on the reconstructed coordinates.
    "q139_knn_selfjoin_quantized" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb]
    parameters: {method: ivf, selfJoin: true, quantized: true, field: embedding, idField: vec_id, k: 3, centroids: 32, nProbe: 2, hashAlgo: md5}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

    // cross-corpus winnow with a HOT PRIMARY bucket (maxBucket: 2):
    // 5 primary copies of a crafted doc A whose fingerprint set is a
    // strict SUBSET of a longer, LOWER-id reference doc A+Z (prefix
    // winnowing guarantees the containment: every window fully inside
    // the A region selects the same minima), so the bucket's min
    // reference id is never the true match. The per-side over-cap
    // split must pair the hot primary against the FULL (<= cap)
    // reference member list — a min-rep-only fallback would pair the
    // copies only with A+Z, fail the 0.5 verify (|F(A)|/|F(A+Z)| ≈
    // 0.24), and silently drop the exact duplicate (measured: the
    // pre-fix semantics return no match for all five copies)
    "q140_winnow_cross_hotbucket" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: refdocs
    module: sql
    inputs: [docs]
    parameters:
      sql: "WITH a AS (SELECT array_join(transform(sequence(0, 29), i -> concat('a', i)), ' ') AS a, array_join(transform(sequence(0, 79), i -> concat('z', i)), ' ') AS z) SELECT doc_id, text FROM docs WHERE doc_id < 50 UNION ALL SELECT CAST(60001 AS BIGINT) AS doc_id, concat(a, ' ', z) AS text FROM a UNION ALL SELECT CAST(60002 AS BIGINT) AS doc_id, a AS text FROM a"
  - name: newdocs
    module: sql
    inputs: [docs]
    parameters:
      sql: "WITH a AS (SELECT array_join(transform(sequence(0, 29), i -> concat('a', i)), ' ') AS a) SELECT doc_id, text FROM docs WHERE doc_id >= 100 AND doc_id < 300 UNION ALL SELECT CAST(70000 + i AS BIGINT) AS doc_id, a AS text FROM a LATERAL VIEW explode(sequence(1, 5)) t AS i"
  - name: dd
    module: dedup
    inputs: [newdocs, refdocs]
    parameters:
      method: winnow
      referenceInput: refdocs
      field: text
      idField: doc_id
      ngramSize: 4
      window: 8
      threshold: 0.5
      maxBucket: 2
      hashAlgo: md5
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // theta sketches built from DIFFERENTLY-TYPED columns of the
    // same logical values must intersect: the O side sketches the
    // int64 custkey, the F side sketches CAST(custkey AS DOUBLE) —
    // the numeric normalization (fractional exact integers render as
    // longs) makes the string identities agree, so the cross-type
    // intersection pins the true distinct-set overlap instead of
    // silently reporting ~0 (the r13 advice finding)
    "q141_theta_crosstype" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: oint
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT o_custkey FROM ord WHERE o_orderstatus = 'O'"
  - name: fdbl
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_custkey AS DOUBLE) AS ck_d FROM ord WHERE o_orderstatus = 'F'"
  - name: ska
    module: aggregation
    inputs: [oint]
    parameters:
      aggregations:
        - input: oint
          fields:
            - {name: ska, op: theta_sketch, field: o_custkey, lgK: 15}
  - name: skb
    module: aggregation
    inputs: [fdbl]
    parameters:
      aggregations:
        - input: fdbl
          fields:
            - {name: skb, op: theta_sketch, field: ck_d, lgK: 15}
  - name: pair
    module: sql
    inputs: [ska, skb]
    parameters:
      sql: "SELECT a.ska, b.skb FROM ska a CROSS JOIN skb b"
  - name: est
    module: select
    inputs: [pair]
    parameters:
      select:
        - {name: n_o, func: theta_estimate, field: ska}
        - {name: n_f, func: theta_estimate, field: skb}
        - {name: inter, func: theta_intersect, fields: [ska, skb]}
  - name: out
    module: sql
    inputs: [est]
    parameters:
      sql: "SELECT CAST(round(n_o) AS BIGINT) AS n_o, CAST(round(n_f) AS BIGINT) AS n_f, CAST(round(inter) AS BIGINT) AS inter FROM est"
"""),

    // vector pooling with NULL ELEMENTS: positions mask to null on a
    // deterministic (vec_id + index) stride, so the per-position
    // mean must exclude the null from THAT position's denominator
    // (SQL aggregate semantics — the r13 advice finding) while the
    // sum treats it as adding nothing. Position 3 masks null for
    // EVERY vector, so each group's pooled mean holds an actual null
    // position — rendered VISIBLY via array_join's nullReplacement
    // (the r14 advice finding: without it null elements silently
    // drop from the rendering and the per-position semantics this
    // gate pins would be invisible to the compare)
    "q142_vector_pool_nulls" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: px
    module: sql
    inputs: [emb]
    parameters:
      sql: "SELECT label, transform(embedding, (x, i) -> CASE WHEN i = 3 THEN CAST(NULL AS FLOAT) WHEN (vec_id + i) % 7 = 0 THEN CAST(NULL AS FLOAT) ELSE x END) AS embedding FROM emb"
  - name: ag
    module: aggregation
    inputs: [px]
    parameters:
      groupFields: [label]
      aggregations:
        - input: px
          fields:
            - {name: pooled_a, op: vector_avg, field: embedding}
            - {name: pooled_s, op: vector_sum, field: embedding}
            - {name: n, op: count}
  - name: out
    module: sql
    inputs: [ag]
    parameters:
      sql: "SELECT label, array_join(transform(pooled_a, x -> CASE WHEN x IS NULL THEN NULL ELSE format_string('%.4f', round(x, 4) + 0.0d) END), ',', 'null') AS avg_r, array_join(transform(pooled_s, x -> CASE WHEN x IS NULL THEN NULL ELSE format_string('%.4f', round(x, 4) + 0.0d) END), ',', 'null') AS sum_r, n FROM ag"
"""),

    // bucketed interval join (method: interval, point mode): every
    // click event joined to the purchase windows [ts, ts+2h] of the
    // SAME user that contain it. The bin-replication scheme makes
    // this an equi-join on (user, hour-bin) with the BETWEEN filter
    // inside the bin — a raw SQL range predicate would plan as a
    // broadcast-nested-loop join. Closed bounds, oracle = the plain
    // BETWEEN join
    "q143_interval_join" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: clicks
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id, user_id, ts FROM ev WHERE event_type = 'click'"
  - name: windows
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM ev WHERE event_type = 'purchase'"
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
  - name: out
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: window_id, field: right_wid, type: int64}
"""),

    // blocked fuzzy join (method: fuzzy, suffix blocker): customer
    // names matched against a first-character-mutated copy — the
    // suffix block survives a leading edit where a prefix block
    // cannot (id-like strings share the long 'Customer#' prefix, so
    // prefix blocking would also degenerate to one giant bucket).
    // Levenshtein verify <= 1; oracle replays blocker + measure
    "q144_fuzzy_join" -> pipe("out", """
sources:
  - name: cust
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: left
    module: sql
    inputs: [cust]
    parameters:
      sql: "SELECT c_custkey, c_name FROM cust"
  - name: mut
    module: sql
    inputs: [cust]
    parameters:
      sql: "SELECT c_custkey + 1000000 AS m_id, concat('X', substr(c_name, 2)) AS m_name FROM cust"
  - name: jn
    module: join
    inputs: [left, mut]
    parameters:
      method: fuzzy
      leftOn: c_name
      rightOn: m_name
      measure: levenshtein
      threshold: 1
      blocker: suffix
      blockLength: 6
  - name: out
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: c_custkey}
        - {name: m_id, field: right_m_id, type: int64}
        - {name: score, type: int32}
"""),

    // interval OVERLAP join with how: left — even-id purchase
    // windows against odd-id ones of the same user; a pair sharing
    // many bins must still emit exactly once (first-common-bin
    // dedup), and unmatched lefts complete with one null row
    "q145_interval_overlap" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: evens
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id, user_id, ts AS s, ts + INTERVAL 1 HOUR AS e FROM ev WHERE event_type = 'purchase' AND event_id % 2 = 0"
  - name: odds
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_id AS wid, user_id, ts AS s, ts + INTERVAL 1 HOUR AS e FROM ev WHERE event_type = 'purchase' AND event_id % 2 = 1"
  - name: jn
    module: join
    inputs: [evens, odds]
    parameters:
      method: interval
      by: [user_id]
      leftStart: s
      leftEnd: e
      rightStart: s
      rightEnd: e
      binWidth: 30m
      how: left
  - name: out
    module: select
    inputs: [jn]
    parameters:
      select:
        - {name: event_id}
        - {name: overlap_id, field: right_wid, type: int64}
"""),

    // count-min frequency sketches with the two-stage merge: one
    // sketch per event_type over user ids (Spark's NATIVE
    // count_min_sketch aggregate), cms_merge into one global grid,
    // then per-user point-frequency probes. eps 1e-4 → a 20k-wide
    // grid vs a few hundred distinct users keeps every estimate
    // EXACT for this fixed seed, so the oracle pins true counts —
    // the same exact-regime pattern as q114/q122
    "q146_cms_freq" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: part
    module: aggregation
    inputs: [ev]
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: sk, op: cms_sketch, field: user_id, eps: 0.0001, confidence: 0.999, seed: 42}
  - name: glob
    module: aggregation
    inputs: [part]
    parameters:
      aggregations:
        - input: part
          fields:
            - {name: sk, op: cms_merge, field: sk}
  - name: probes
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT DISTINCT user_id FROM ev WHERE user_id % 7 = 0"
  - name: pair
    module: sql
    inputs: [probes, glob]
    parameters:
      sql: "SELECT p.user_id, g.sk FROM probes p CROSS JOIN glob g"
  - name: est
    module: select
    inputs: [pair]
    parameters:
      select:
        - {name: user_id}
        - {name: freq, func: cms_estimate, fields: [sk, user_id]}
  - name: out
    module: sql
    inputs: [est]
    parameters:
      sql: "SELECT user_id, CAST(freq AS BIGINT) AS freq FROM est"
"""),

    // entity-resolution recipe — the record-linkage composition the
    // fuzzy join exists for: a noisy catalog (every customer plus
    // two 1-edit mutants under fresh ids) fuzzy SELF-joins (suffix
    // blocker, levenshtein <= 2), the matched pairs become edges,
    // and graph connectedComponents assigns each record its cluster
    // (= the min id, the original). Each cluster is a 3-clique by
    // construction, so the oracle closes over one hop
    "q147_entity_resolution" -> pipe("out", """
sources:
  - name: cust
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: catalog
    module: sql
    inputs: [cust]
    parameters:
      sql: "SELECT c_custkey AS rid, c_name AS name FROM cust UNION ALL SELECT c_custkey + 1000000 AS rid, concat('X', substr(c_name, 2)) AS name FROM cust UNION ALL SELECT c_custkey + 2000000 AS rid, concat(substr(c_name, 1, 1), 'Y', substr(c_name, 3)) AS name FROM cust"
  - name: pairs
    module: join
    inputs: [catalog, catalog]
    parameters:
      method: fuzzy
      leftOn: name
      rightOn: name
      measure: levenshtein
      threshold: 2
      blocker: suffix
      blockLength: 6
  - name: edges
    module: sql
    inputs: [pairs]
    parameters:
      sql: "SELECT rid AS src, right_rid AS dst FROM pairs WHERE rid < right_rid"
  - name: comp
    module: graph
    inputs: [edges]
    parameters: {method: connectedComponents, srcField: src, dstField: dst}
  - name: out
    module: select
    inputs: [comp]
    parameters:
      select:
        - {name: vertex, type: int64}
        - {name: component, type: int64}
"""),

    // entity-resolution SURVIVORSHIP — the read after q147's
    // canonical ids: ONE canonical record per component, each field
    // surviving by its own rule (reference argmax semantics,
    // `ArgMax.java:241`): name by source priority (original source
    // outranks mutants, rid tie-break makes the comparator unique),
    // segment by recency (a synthesized updated stamp under which
    // mutant 1 is newest for odd keys, mutant 2 for even), balance
    // by plain max, n = cluster size, and donor by COMPLETENESS
    // (most non-null contact fields wins, rid tie-break) — the
    // fourth standard survivorship policy, composed as argmax over
    // a SQL-computed non-null count (each variant nulls a different
    // contact field on a different key residue, so priority,
    // recency, and completeness elect different records). Components
    // replay as rid % 1e6 in the oracle because each cluster is a
    // 3-clique whose min id is the original custkey (the q147
    // construction)
    "q157_survivorship" -> pipe("out", """
sources:
  - name: cust
    module: storage
    parameters: {path: "${dir}/customer.parquet"}
transforms:
  - name: catalog
    module: sql
    inputs: [cust]
    parameters:
      sql: "SELECT c_custkey AS rid, c_name AS name, c_mktsegment AS seg, c_acctbal AS bal, 3 AS src, 1000 + c_custkey AS updated, CASE WHEN c_custkey % 2 = 0 THEN CAST(NULL AS STRING) ELSE 'P3' END AS phone, 'E3' AS email FROM cust UNION ALL SELECT c_custkey + 1000000 AS rid, concat('X', substr(c_name, 2)) AS name, concat('M1-', c_mktsegment) AS seg, c_acctbal + 10.0 AS bal, 2 AS src, 2000000 + c_custkey + (c_custkey % 2) * 2000000 AS updated, 'P2' AS phone, CASE WHEN c_custkey % 3 = 0 THEN CAST(NULL AS STRING) ELSE 'E2' END AS email FROM cust UNION ALL SELECT c_custkey + 2000000 AS rid, concat(substr(c_name, 1, 1), 'Y', substr(c_name, 3)) AS name, concat('M2-', c_mktsegment) AS seg, c_acctbal - 5.0 AS bal, 1 AS src, 3000000 + c_custkey AS updated, CAST(NULL AS STRING) AS phone, 'E1' AS email FROM cust"
  - name: pairs
    module: join
    inputs: [catalog, catalog]
    parameters:
      method: fuzzy
      leftOn: name
      rightOn: name
      measure: levenshtein
      threshold: 2
      blocker: suffix
      blockLength: 6
  - name: edges
    module: sql
    inputs: [pairs]
    parameters:
      sql: "SELECT rid AS src, right_rid AS dst FROM pairs WHERE rid < right_rid"
  - name: comp
    module: graph
    inputs: [edges]
    parameters: {method: connectedComponents, srcField: src, dstField: dst}
  - name: labeled
    module: sql
    inputs: [comp, catalog]
    parameters:
      sql: "SELECT c.component, g.name, g.seg, g.bal, g.src, g.rid, g.updated, (CASE WHEN g.phone IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN g.email IS NOT NULL THEN 1 ELSE 0 END) AS cmp FROM comp c JOIN catalog g ON c.vertex = g.rid"
  - name: surv
    module: aggregation
    inputs: [labeled]
    parameters:
      groupFields: [component]
      aggregations:
        - input: labeled
          fields:
            - {name: name_s, op: argmax, field: name, comparingExpression: "src * 10000000 + rid"}
            - {name: seg_s, op: argmax, field: seg, comparingField: updated}
            - {name: bal_s, op: max, field: bal}
            - {name: donor, op: argmax, field: rid, comparingExpression: "cmp * 10000000 + rid"}
            - {name: n, op: count}
  - name: out
    module: sql
    inputs: [surv]
    parameters:
      sql: "SELECT CAST(component AS BIGINT) AS component, name_s, seg_s, format_string('%.2f', round(bal_s, 2) + 0.0d) AS bal_s, CAST(donor AS BIGINT) AS donor, n FROM surv"
"""),

    // corpus-overlap ESTIMATE — the composed pre-dedup triage read:
    // theta sketches OVER the winnow fingerprint indexes of two
    // corpus slices answer "how much shared content, is cross-dedup
    // even worth running" from two fixed-size sketches instead of a
    // fingerprint join. lgK 16 keeps ~25k distinct fps per side
    // below the sampling threshold, so the estimates are exact and
    // the oracle pins the true fingerprint-set counts
    "q148_overlap_estimate" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: aslice
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 2 = 0"
  - name: bslice
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 2 = 1"
  - name: aidx
    module: dedup
    inputs: [aslice]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
  - name: bidx
    module: dedup
    inputs: [bslice]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
  - name: ask
    module: aggregation
    inputs: [aidx]
    parameters:
      aggregations:
        - input: aidx
          fields:
            - {name: ska, op: theta_sketch, field: fingerprint, lgK: 16}
  - name: bsk
    module: aggregation
    inputs: [bidx]
    parameters:
      aggregations:
        - input: bidx
          fields:
            - {name: skb, op: theta_sketch, field: fingerprint, lgK: 16}
  - name: pair
    module: sql
    inputs: [ask, bsk]
    parameters:
      sql: "SELECT a.ska, b.skb FROM ask a CROSS JOIN bsk b"
  - name: est
    module: select
    inputs: [pair]
    parameters:
      select:
        - {name: n_a, func: theta_estimate, field: ska}
        - {name: n_b, func: theta_estimate, field: skb}
        - {name: shared, func: theta_intersect, fields: [ska, skb]}
  - name: out
    module: sql
    inputs: [est]
    parameters:
      sql: "SELECT CAST(round(n_a) AS BIGINT) AS n_a, CAST(round(n_b) AS BIGINT) AS n_b, CAST(round(shared) AS BIGINT) AS shared FROM est"
"""),

    // create source end-to-end: literal elements with an explicit
    // schema plus an int64 from/to/interval sequence — the in-memory
    // generation path (reference CreateSource) the driver can pin
    // against a VALUES/range oracle
    "q149_create_source" -> pipe("out", """
sources:
  - name: el
    module: create
    parameters:
      elements:
        - {k: 1, v: "alpha"}
        - {k: 2, v: "beta"}
        - {k: 3, v: "gamma"}
      fields:
        - {name: k, type: int64}
        - {name: v, type: string}
  - name: seq
    module: create
    parameters: {from: "10", to: "18", interval: 2, type: int64}
transforms:
  - name: out
    module: sql
    inputs: [el, seq]
    parameters:
      sql: "SELECT k, v FROM el UNION ALL SELECT value AS k, CAST(NULL AS STRING) AS v FROM seq"
"""),

    // timestampAttribute → __event_time surfaced through the
    // event_timestamp select func — the event-time wiring every
    // streaming stage builds on, pinned in batch where the oracle
    // can replay it as the raw column
    "q150_event_time" -> pipe("out", """
sources:
  - name: ev
    module: storage
    timestampAttribute: ts
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: out
    module: select
    inputs: [ev]
    parameters:
      select:
        - {name: event_id}
        - {name: et, func: event_timestamp}
"""),

    // fuzzy join via the NGRAM blocker — candidates share >= 1
    // character 3-gram whose per-side bucket holds <= 64 rows (hot
    // grams pair everything with everything and are skipped, the
    // LSH-band convention; ids-only candidate shuffle). Distinct
    // part names vs last-char mutants: the oracle replays gram
    // inventory, caps, candidate pairs, and the levenshtein verify
    "q154_fuzzy_ngram" -> pipe("out", """
sources:
  - name: part
    module: storage
    parameters: {path: "${dir}/part.parquet"}
transforms:
  - name: lf
    module: sql
    inputs: [part]
    parameters:
      sql: "SELECT min(p_partkey) AS lid, p_name AS name FROM part GROUP BY p_name"
  - name: rf
    module: sql
    inputs: [lf]
    parameters:
      sql: "SELECT lid + 1000000 AS rid, concat(substr(name, 1, length(name) - 1), 'x') AS name FROM lf"
  - name: jn
    module: join
    inputs: [lf, rf]
    parameters:
      method: fuzzy
      leftOn: name
      measure: levenshtein
      threshold: 1
      blocker: ngram
      blockLength: 3
      maxBucket: 64
      leftId: lid
      rightId: rid
  - name: out
    module: sql
    inputs: [jn]
    parameters:
      sql: "SELECT lid, right_rid AS rid, CAST(score AS INT) AS score FROM jn"
"""),

    // fuzzy join with the TOKEN-SET measure — word-reordered names
    // ("ring small" vs "small ring") that every edit-distance
    // measure scores far apart. Left = sampled part names, right =
    // the same names token-REVERSED plus disjoint-sample noise;
    // token_jaccard over the ngram blocker recovers exactly the
    // equal-token-set pairs. maxBucket is effectively unbounded so
    // candidates ⊇ matches by construction (equal sets share every
    // gram) and the oracle stays a plain list-intersection join;
    // the hot-gram cap is pinned separately (q154, JoinSpec).
    // Jaccard of ≤ 4-token sets takes no value in (0.875, 1), so
    // threshold 0.995 selects exactly the score-1 pairs
    "q156_fuzzy_token" -> pipe("out", """
sources:
  - name: part
    module: storage
    parameters: {path: "${dir}/part.parquet"}
transforms:
  - name: lf
    module: sql
    inputs: [part]
    parameters:
      sql: "SELECT p_partkey AS lid, p_name AS name FROM part WHERE p_partkey % 29 = 0"
  - name: rf
    module: sql
    inputs: [part]
    parameters:
      sql: "SELECT p_partkey AS rid, concat_ws(' ', reverse(split(p_name, ' '))) AS name FROM part WHERE p_partkey % 29 = 0 UNION ALL SELECT p_partkey AS rid, p_name AS name FROM part WHERE p_partkey % 31 = 7"
  - name: jn
    module: join
    inputs: [lf, rf]
    parameters:
      method: fuzzy
      leftOn: name
      measure: token_jaccard
      threshold: 0.995
      blocker: ngram
      blockLength: 3
      maxBucket: 1000000
      leftId: lid
      rightId: rid
  - name: out
    module: sql
    inputs: [jn]
    parameters:
      sql: "SELECT lid, right_rid AS rid, CAST(round(score * 10000) AS BIGINT) AS score_m FROM jn"
"""),

    // fuzzy join with TOKEN-SORT normalization — reorder + a
    // char-level edit in one measure (fuzzywuzzy's token-sort
    // ratio): right side is the token-reversed sample with one
    // appended char, so the sorted forms sit exactly one edit
    // apart. Unbounded maxBucket keeps candidates ⊇ matches
    // (strings within 1 edit of length ≥ 4 always share a 3-gram),
    // so the oracle is a plain all-pairs levenshtein over the
    // sorted forms
    "q162_fuzzy_tokensort" -> pipe("out", """
sources:
  - name: part
    module: storage
    parameters: {path: "${dir}/part.parquet"}
transforms:
  - name: lf
    module: sql
    inputs: [part]
    parameters:
      sql: "SELECT p_partkey AS lid, p_name AS name FROM part WHERE p_partkey % 29 = 0"
  - name: rf
    module: sql
    inputs: [part]
    parameters:
      sql: "SELECT p_partkey AS rid, concat(concat_ws(' ', reverse(split(p_name, ' '))), 'x') AS name FROM part WHERE p_partkey % 29 = 0 UNION ALL SELECT p_partkey AS rid, p_name AS name FROM part WHERE p_partkey % 31 = 7"
  - name: jn
    module: join
    inputs: [lf, rf]
    parameters:
      method: fuzzy
      leftOn: name
      measure: levenshtein
      threshold: 1
      tokenSort: true
      blocker: ngram
      blockLength: 3
      maxBucket: 1000000
      leftId: lid
      rightId: rid
  - name: out
    module: sql
    inputs: [jn]
    parameters:
      sql: "SELECT lid, right_rid AS rid, CAST(score AS INT) AS score FROM jn"
"""),

    // neighbor-graph clustering — the semdedup composition the
    // self-join exists for: ANN selfJoin emits each vector's top-2
    // neighbors, the MUTUAL pairs (each in the other's top-2 —
    // rank-based, no float threshold to straddle an ulp; the
    // standard trick that keeps a kNN graph from collapsing into one
    // giant transitive component, measured 105 clusters of ≤ 8 here
    // vs 1 giant blob for one-directional edges) become edges, and
    // graph connectedComponents glues them into clusters. The oracle
    // replays the q125 IVF pairs, the mutual join, and a recursive
    // min-label closure
    // the persistable winnow fingerprint index: one (id, fingerprint)
    // row per selected hash — what an incremental pipeline writes
    // once over the reference corpus; oracle = the q127 fingerprint
    // CTEs, exploded
    "q133_winnow_index" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: out
    module: dedup
    inputs: [docs]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
"""),

    // profile with PERCENTILES: p50/p95 per numeric column from a
    // KLL sketch per column in the same single aggregation pass
    // (fixed-size mergeable state — the scale path for quantile
    // profiling); the frame is bounded ≤ kllK rows so every quantile
    // is EXACT and the oracle pins the ⌈q·n⌉-th order statistic
    // (KLL's inclusive-search convention, same replay as q114).
    // Non-numeric columns carry null percentiles.
    "q135_profile_percentiles" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: sub
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT * FROM ord WHERE o_orderkey % 100 = 0"
  - name: pf
    module: profile
    inputs: [sub]
    parameters:
      fields: [o_totalprice, o_custkey, o_orderstatus]
      percentiles: [0.5, 0.95]
  - name: out
    module: sql
    inputs: [pf]
    parameters:
      sql: "SELECT column AS col_name, n, nulls, round(p50, 4) AS p50_r, round(p95, 4) AS p95_r FROM pf"
"""),

    // BM25 RETRIEVAL over a query set — the read the q117 scorer
    // exists for: a small query table (first 6 tokens of every
    // 211th doc, reconstructed as text) ranks the whole corpus per
    // query — each distinct query term contributes its (doc, term)
    // BM25 score once, summed per (query, doc), top-5 docs per query
    // by (score desc, doc asc). The query table broadcasts into the
    // term join; the ranking is the bounded top-k aggregate, not a
    // window over all candidates. The oracle replays the q117
    // formula, the query join, and the ranking.
    "q136_bm25_retrieval" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: qs
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id + 1000000 AS query_id, array_join(slice(filter(split(lower(text), ' '), x -> x != ''), 1, 6), ' ') AS text FROM docs WHERE doc_id % 211 = 0"
  - name: ret
    module: tfidf
    inputs: [docs, qs]
    parameters: {idField: doc_id, field: text, scheme: bm25, queriesInput: qs, topK: 5}
  - name: out
    module: sql
    inputs: [ret]
    parameters:
      sql: "SELECT query_id, doc_id, round(score, 4) AS score_r, rank FROM ret"
"""),

    // incremental cross-corpus winnow: build the reference slice's
    // fingerprint index in one transform, dedup the new slice AGAINST
    // THE INDEX (referenceIsIndex — no reference re-fingerprinting),
    // and land on the exact q129 result: the oracle IS the q129
    // oracle
    "q134_winnow_index_cross" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: newdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: ">=", value: 100}]
  - name: refdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: "<", value: 100}]
  - name: idx
    module: dedup
    inputs: [refdocs]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
  - name: dd
    module: dedup
    inputs: [newdocs, idx]
    parameters:
      method: winnow
      referenceInput: idx
      referenceIsIndex: true
      referenceIdField: doc_id
      field: text
      idField: doc_id
      ngramSize: 4
      window: 8
      threshold: 0.5
      hashAlgo: md5
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // the INCREMENTAL-ONBOARDING contract the persistable index
    // exists for: index(shard A) ∪ index(shard B) ≡ index(A ∪ B).
    // Winnow fingerprints are per-document (each doc's window walks
    // its own grams), so a union of shard indexes IS the union
    // corpus's index — this gate builds the q134 reference index as
    // TWO shard indexes, unions them, cross-dedups against the
    // union, and must land on the exact q134 result (the oracle IS
    // the q129/q134 oracle). At 100 TB this is "append today's
    // crawl's index rows" instead of re-fingerprinting the corpus.
    "q137_winnow_index_union" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: newdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: ">=", value: 100}]
  - name: refA
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: "<", value: 50}]
  - name: refB
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: ">=", value: 50}, {key: doc_id, op: "<", value: 100}]
  - name: idxA
    module: dedup
    inputs: [refA]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
  - name: idxB
    module: dedup
    inputs: [refB]
    parameters: {method: winnow, action: index, field: text, idField: doc_id, ngramSize: 4, window: 8, hashAlgo: md5}
  - name: idx
    module: union
    inputs: [idxA, idxB]
  - name: dd
    module: dedup
    inputs: [newdocs, idx]
    parameters:
      method: winnow
      referenceInput: idx
      referenceIsIndex: true
      referenceIdField: doc_id
      field: text
      idField: doc_id
      ngramSize: 4
      window: 8
      threshold: 0.5
      hashAlgo: md5
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // the coefficient's intended use, composed end-to-end: mutual
    // top-4 kNN pairs (the q126 recipe at k=4 for triangle density)
    // become the candidate graph, and clusteringCoefficient separates
    // tight cliques (c ≈ 1) from chains/hubs (c ≈ 0) BEFORE any
    // transitive glue commits to merging them. Oracle replays the
    // IVF pairs, the mutual join, and both coefficient legs.
    "q132_neighbor_coeff" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb]
    parameters: {method: ivf, selfJoin: true, field: embedding, idField: vec_id, k: 4, centroids: 32, nProbe: 2, hashAlgo: md5}
  - name: mut
    module: sql
    inputs: [knn]
    parameters:
      sql: "SELECT a.query_id, a.neighbor_id FROM knn a JOIN knn b ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id"
  - name: cc
    module: graph
    inputs: [mut]
    parameters: {method: clusteringCoefficient, srcField: query_id, dstField: neighbor_id}
  - name: out
    module: sql
    inputs: [cc]
    parameters:
      sql: "SELECT vertex, degree, triangles, round(coefficient, 6) AS coeff_r FROM cc"
"""),

    // clustering coefficient on the chord graph: degrees (self-loop-
    // free distinct neighbors) + triangles composed into
    // 2T/(d(d−1)); the oracle recomputes both legs by their plain
    // SQL joins and the same double arithmetic, rounded 6dp
    "q131_clustering_coeff" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9 UNION ALL SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 2 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 < 8"
  - name: cc
    module: graph
    inputs: [ed]
    parameters: {method: clusteringCoefficient, srcField: src, dstField: dst}
  - name: out
    module: sql
    inputs: [cc]
    parameters:
      sql: "SELECT vertex, degree, triangles, round(coefficient, 6) AS coeff_r FROM cc"
"""),

    // kll_rank: inverse quantile from the same two-stage kll
    // sketch/merge pipeline as q114 — the fraction of each group's
    // o_totalprice at or below a fixed threshold; exact while the
    // per-group count stays under the sketch's k (7-8 here), so the
    // oracle is a plain count(x <= v)/count(*)
    "q130_kll_rank" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: bk
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT o_orderkey % 2000 AS g, o_custkey % 4 AS b, o_totalprice FROM ord"
  - name: a1
    module: aggregation
    inputs: [bk]
    parameters:
      groupFields: [g, b]
      aggregations:
        - input: bk
          fields:
            - {name: sk, op: kll_sketch, field: o_totalprice}
  - name: a2
    module: aggregation
    inputs: [a1]
    parameters:
      groupFields: [g]
      aggregations:
        - input: a1
          fields:
            - {name: sk2, op: kll_merge, field: sk}
  - name: rk
    module: select
    inputs: [a2]
    parameters:
      select:
        - {name: g}
        - {name: rank, field: sk2, func: kll_rank, value: 100000.0}
  - name: out
    module: sql
    inputs: [rk]
    parameters:
      sql: "SELECT g, round(rank, 6) AS rank_r FROM rk"
"""),

    // cross-corpus winnow: flag new docs (id >= 100) sharing a
    // winnowed fingerprint + >= 0.5 set-Jaccard with the reference
    // slice (id < 100) — the q69 fixture under the q127 fingerprint
    // program; the oracle replays both sides' fingerprints, the
    // cross equi-join, and the verify
    "q129_winnow_cross" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet", fields: [doc_id, text]}
transforms:
  - name: newdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: ">=", value: 100}]
  - name: refdocs
    module: filter
    inputs: [docs]
    parameters:
      filter: [{key: doc_id, op: "<", value: 100}]
  - name: dd
    module: dedup
    inputs: [newdocs, refdocs]
    parameters:
      method: winnow
      referenceInput: refdocs
      field: text
      idField: doc_id
      ngramSize: 4
      window: 8
      threshold: 0.5
      hashAlgo: md5
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    // graph triangles over the chain graph plus skip-one chords:
    // blocks of 10 with edges k→k+1 and k→k+2 make every (k, k+1,
    // k+2) inside a block a triangle — the oracle counts them by the
    // plain a<b<c double-join, checking the engine's degree-ordered
    // orientation enumerates exactly the same set
    "q128_triangles" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9 UNION ALL SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 2 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 < 8"
  - name: out
    module: graph
    inputs: [ed]
    parameters: {method: triangles, srcField: src, dstField: dst}
"""),

    // winnowing fingerprint dedup (Schleimer et al. 2003 / MOSS):
    // per-window minimum token-gram hashes as the candidate index —
    // ALL pairs within each fingerprint bucket of <= maxBucket docs
    // (boilerplate fingerprints skipped) — exact fingerprint-set
    // Jaccard verify. md5 audit mode — the oracle replays gram
    // digests, window minima (hex-lexicographic = engine's string
    // array_min), the capped all-pairs candidates, and the
    // |∩|/(|a|+|b|−|∩|) verify
    "q127_dedup_winnow" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dd
    module: dedup
    inputs: [docs]
    parameters: {method: winnow, field: text, idField: doc_id, ngramSize: 4, window: 8, threshold: 0.5, hashAlgo: md5}
  - name: out
    module: select
    inputs: [dd]
    parameters:
      select:
        - {name: doc_id}
        - {name: dup_of, field: __dup_of, type: int64}
"""),

    "q126_neighbor_clusters" -> pipe("out", """
sources:
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: knn
    module: similarity
    inputs: [emb]
    parameters: {method: ivf, selfJoin: true, field: embedding, idField: vec_id, k: 2, centroids: 32, nProbe: 2, hashAlgo: md5}
  - name: mut
    module: sql
    inputs: [knn]
    parameters:
      sql: "SELECT a.query_id, a.neighbor_id FROM knn a JOIN knn b ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id"
  - name: cc
    module: graph
    inputs: [mut]
    parameters: {srcField: query_id, dstField: neighbor_id}
  - name: out
    module: sql
    inputs: [cc]
    parameters:
      sql: "SELECT vertex, component FROM cc"
"""),

    // the distribution ranks (§2.7): rank/dense_rank/percent_rank/
    // cume_dist/ntile over a unique per-key order — deterministic,
    // replayed by the identical ANSI window functions in DuckDB
    "q124_window_rank" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: w
    module: window
    inputs: [ev]
    parameters:
      groupFields: [user_id]
      orderField: event_id
      fields:
        - {name: rk, func: rank}
        - {name: drk, func: dense_rank}
        - {name: prk, func: percent_rank}
        - {name: cd, func: cume_dist}
        - {name: nt, func: ntile, n: 4}
  - name: out
    module: select
    inputs: [w]
    parameters:
      select:
        - {name: event_id}
        - {name: user_id}
        - {name: rk, type: int32}
        - {name: drk, type: int32}
        - {name: prk_r, expression: "round(prk, 6)"}
        - {name: cd_r, expression: "round(cd, 6)"}
        - {name: nt, type: int32}
"""),

    // tfidf, bm25 scheme: Okapi scoring (k1=1.2, b=0.75) over the
    // same 1/97 sample — idf, per-doc length, and the corpus avgdl
    // all replay in SQL
    "q117_bm25" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: fl
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: ti
    module: tfidf
    inputs: [fl]
    parameters: {idField: doc_id, field: text, scheme: bm25}
  - name: out
    module: sql
    inputs: [ti]
    parameters:
      sql: "SELECT doc_id, term, tf, df, round(score, 4) AS score_r FROM ti"
"""),

    // profile, approx twin: HLL distincts over two LOW-cardinality
    // columns (value domains far below HLL's exact range), so the
    // approx path must reproduce the exact oracle — the same
    // bounded-domain pinning as q87/q96/q114
    "q118_profile_approx" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: pf
    module: profile
    inputs: [ord]
    parameters:
      fields: [o_orderstatus, o_orderpriority]
      approx: true
  - name: out
    module: sql
    inputs: [pf]
    parameters:
      sql: "SELECT column AS col_name, n, nulls, distincts, min_s, max_s FROM pf"
"""),

    // data-quality profiling: one-pass per-column stats (rows, nulls,
    // exact distincts, string-rendered bounds, mean/sample-std for
    // numerics) over four orders columns; oracle = the same stats as
    // four UNION ALL'd DuckDB aggregates
    "q112_profile" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: pf
    module: profile
    inputs: [ord]
    parameters:
      fields: [o_orderkey, o_custkey, o_orderstatus, o_orderpriority]
  - name: out
    module: sql
    inputs: [pf]
    parameters:
      sql: "SELECT column AS col_name, n, nulls, distincts, min_s, max_s, round(mean, 4) AS mean_r, round(std, 4) AS std_r FROM pf"
"""),

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

    // corpus term scoring: smoothed tf-idf (sklearn variant) over a
    // 1/97 document sample — one (doc, term) row each with tf, df,
    // and the rounded score; the oracle replays tokenization,
    // counts, and ln((1+N)/(1+df))+1 in SQL
    "q110_tfidf" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: fl
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, text FROM docs WHERE doc_id % 97 = 0"
  - name: ti
    module: tfidf
    inputs: [fl]
    parameters: {idField: doc_id, field: text}
  - name: out
    module: sql
    inputs: [ti]
    parameters:
      sql: "SELECT doc_id, term, tf, df, round(score, 4) AS score_r FROM ti"
"""),

    // graph degrees twin of q103: the same block-of-10 chain graph
    // has closed-form degrees — 1 at chain ends (key % 10 ∈ {0, 9}),
    // 2 inside — so the symmetrize+distinct+count path checks
    // against an analytic oracle
    "q108_degrees" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9"
  - name: out
    module: graph
    inputs: [ed]
    parameters: {method: degrees, srcField: src, dstField: dst}
"""),

    // graph pagerank over the same chain graph: in-degree ≤ 1 keeps
    // every double op order-deterministic, so the oracle replays the
    // exact recurrence (generated — pagerankOracleSql) bit-for-bit;
    // chain position j's rank is (1−d)/N · (1 + d + … + d^j)
    // computed by the SAME iterated ops on both sides
    "q109_pagerank" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9"
  - name: out
    module: graph
    inputs: [ed]
    parameters: {method: pagerank, srcField: src, dstField: dst, damping: 0.85, maxIterations: 10}
"""),

    // pagerank with DANGLING-MASS redistribution (handleDangling:
    // true): the q109 chain graph's tails park 10% of the mass each
    // round; redistributing it uniformly is the textbook semantic
    // (ranks sum to 1 — the oracle's recurrence conserves exactly
    // 1.0). The oracle replays the 10-round recurrence over the 10
    // chain positions via a recursive CTE: r'_j = b + d·(r_{j−1} +
    // r_9/10), where r_9/10 is the per-vertex dangling share (all
    // chains are identical). round-12 absorbs the one ulp-scale
    // divergence: the engine SUMS the actual dangling ranks
    // distributed while the oracle uses the closed form.
    "q138_pagerank_dangling" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ed
    module: sql
    inputs: [ord]
    parameters:
      sql: "SELECT CAST(o_orderkey AS BIGINT) AS src, CAST(o_orderkey + 1 AS BIGINT) AS dst FROM ord WHERE o_orderkey % 10 <> 9"
  - name: pr
    module: graph
    inputs: [ed]
    parameters: {method: pagerank, srcField: src, dstField: dst, damping: 0.85, maxIterations: 10, handleDangling: true}
  - name: out
    module: sql
    inputs: [pr]
    parameters:
      sql: "SELECT vertex, round(rank, 12) AS rank_r FROM pr"
"""),

    // PII scrub: inject synthetic emails/IPs/phones, then detect and
    // mask via the RE2-parity chain (email -> ip -> phone)
    "q53_pii" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, concat(text, ' Contact user', CAST(doc_id AS STRING), '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' at ', CAST(doc_id % 256 AS STRING), '.168.0.1 today') AS text FROM docs"
  - name: ta
    module: textAnalysis
    inputs: [prep]
    parameters: {field: text, features: [pii]}
  - name: out
    module: sql
    inputs: [ta]
    parameters:
      sql: "SELECT doc_id, pii_emails, pii_ips, pii_phones, text_masked FROM ta"
"""),

    // serialize -> deserialize avro round trip (reference
    // Serialize.java avro format): raw-binary single records, wire
    // schema canonically nullable so the config-derived reader schema
    // matches the writer's bit-exactly. Oracle = identity on orders.
    "q54_avro_roundtrip" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ser
    module: serialize
    inputs: [orders]
    parameters:
      format: avro
      fields: [o_orderkey, o_orderstatus, o_totalprice]
      outputField: payload
  - name: keep
    module: sql
    inputs: [ser]
    parameters:
      sql: "SELECT payload FROM ser"
  - name: de
    module: deserialize
    inputs: [keep]
    parameters:
      format: avro
      field: payload
      outputField: rec
      schema:
        fields:
          - {name: o_orderkey, type: int64}
          - {name: o_orderstatus, type: string}
          - {name: o_totalprice, type: float64}
  - name: out
    module: sql
    inputs: [de]
    parameters:
      sql: "SELECT rec.o_orderkey AS o_orderkey, rec.o_orderstatus AS o_orderstatus, rec.o_totalprice AS o_totalprice FROM de"
"""),

    // §2.8 onnx inference via the documented stub:linear session —
    // exercises the real mapPartitions batching/mapping/schema path;
    // the stub model (out = 2*x + 1) replays as plain SQL
    "q55_onnx_stub" -> pipe("out", """
sources:
  - name: o
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: keep
    module: select
    inputs: [o]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: o_totalprice}
  - name: inf
    module: onnx
    inputs: [keep]
    parameters:
      bufferSize: 64
      model:
        path: "stub:linear"
        outputSchemaFields:
          - {name: score, type: float64}
      inferences:
        - mappings:
            - inputs: {x: o_totalprice}
              outputs: {score: out}
  - name: out
    module: select
    inputs: [inf]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: score}
"""),

    // multimodal plumbing end-to-end: synthesize stub-format image
    // bytes from document fields, decode + resize + re-decode; the
    // stub codec's header arithmetic replays as plain SQL
    "q56_multimodal" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: img
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: w, expression: "n_chars % 640 + 1", type: int64}
        - {name: h, expression: "doc_id % 480 + 1", type: int64}
        - {name: hdrs, func: text, text: "IMG:${w}x${h}x3:payload"}
        - {name: content, field: hdrs, type: bytes}
  - name: mm
    module: multimodal
    inputs: [img]
    parameters:
      ops:
        - {op: decode, field: content, name: meta}
        - {op: resize, field: content, name: content2, width: 64, height: 32}
        - {op: decode, field: content2, name: meta2}
  - name: out
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
"""),

    // REAL image codecs (javax.imageio, in the JDK): generate a
    // genuine PNG per document with doc_id-derived dimensions and a
    // deterministic pixel fill, decode it back (true dims, 3
    // channels, format sniffed from magic bytes), then REALLY
    // rescale to 17×11 and decode the re-encoded PNG. The oracle
    // predicts every decoded property from the same doc_id
    // arithmetic — so a hash match proves the real codec round-trip,
    // not header parsing
    "q194_multimodal_imageio" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
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
  - name: out
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
"""),

    // REAL frame sampling over the JDK's multi-frame container:
    // generate an animated GIF per document (doc_id-derived dims and
    // frame count), sample min(3, frames) evenly-spaced frames —
    // each re-encoded as an RGB PNG — and decode a sampled frame.
    // Every output is doc_id arithmetic: a hash match proves the
    // write-sequence → read-frames → re-encode → decode chain
    "q204_multimodal_frames" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dims
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: w, expression: "doc_id % 16 + 4", type: int64}
        - {name: h, expression: "doc_id % 8 + 3", type: int64}
        - {name: k, expression: "doc_id % 4 + 2", type: int64}
  - name: mm
    module: multimodal
    inputs: [dims]
    parameters:
      ops:
        - {op: generate_gif, widthField: w, heightField: h, framesField: k, seedField: doc_id, name: video}
        - {op: frame_sample, field: video, frames: 3, name: fr}
  - name: ext
    module: sql
    inputs: [mm]
    parameters:
      sql: "SELECT doc_id, size(fr) AS n_sampled, element_at(fr, 1) AS f0 FROM mm"
  - name: mm2
    module: multimodal
    inputs: [ext]
    parameters:
      ops:
        - {op: decode, field: f0, name: meta}
  - name: out
    module: select
    inputs: [mm2]
    parameters:
      select:
        - {name: doc_id}
        - {name: n_sampled, type: int64}
        - {name: width, field: meta.width, type: int64}
        - {name: height, field: meta.height, type: int64}
        - {name: channels, field: meta.channels, type: int64}
        - {name: format, field: meta.format}
        - {name: ok, field: meta.ok}
"""),

    // REAL audio codecs (javax.sound.sampled, in the JDK): generate
    // a genuine PCM-16 mono WAV per document with a doc_id-derived
    // frame count and deterministic samples, then decode the
    // container back — sample rate, channel count, frame length and
    // bit depth all read by the JDK WAV parser; the oracle predicts
    // every decoded property from the same doc_id arithmetic
    "q202_multimodal_audio" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dims
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: frames, expression: "doc_id % 500 + 100", type: int64}
  - name: mm
    module: multimodal
    inputs: [dims]
    parameters:
      ops:
        - {op: generate_wav, framesField: frames, seedField: doc_id, sampleRate: 8000, name: audio}
        - {op: audio_meta, field: audio, name: meta}
  - name: out
    module: select
    inputs: [mm]
    parameters:
      select:
        - {name: doc_id}
        - {name: sample_rate, field: meta.sample_rate, type: int64}
        - {name: channels, field: meta.channels, type: int64}
        - {name: frames_out, field: meta.frames, type: int64}
        - {name: bits, field: meta.bits, type: int64}
        - {name: format, field: meta.format}
        - {name: ok, field: meta.ok}
"""),

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

    // q33's oracled twin: same IVF assignment/probe/top-k, but with
    // an external codebook (centroids = the embeddings of 16 fixed
    // corpus ids) instead of the Lloyd auto-fit — every step is
    // deterministic SQL
    "q33c_knn_ivf_codebook" -> pipe("out", """
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
    parameters:
      method: ivf
      field: embedding
      idField: vec_id
      k: 5
      nProbe: 6
      codebookIds: [0, 31, 62, 93, 124, 155, 186, 217, 248, 279, 310, 341, 372, 403, 434, 465]
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

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

    // stateful module (batch leg): keyed lag buffers == window LAG;
    // event_id is unique so the ordering is deterministic
    "q62_stateful" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: st
    module: stateful
    inputs: [ev]
    parameters:
      groupFields: [event_type]
      orderField: event_id
      fields:
        - {name: prev_value, field: value, offset: 1}
        - {name: prev3_id, field: event_id, offset: 3}
  - name: out
    module: sql
    inputs: [st]
    parameters:
      sql: "SELECT event_id, event_type, prev_value, prev3_id FROM st"
"""),

    // reshape select func end-to-end: first 6 words -> 2x3 matrix,
    // element access + flatten replayed with 1-indexed DuckDB lists
    "q61_reshape" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, slice(split(text, ' '), 1, 6) AS w FROM docs WHERE size(split(text, ' ')) >= 6"
  - name: resh
    module: select
    inputs: [prep]
    parameters:
      select:
        - {name: doc_id}
        - {name: m, func: reshape, field: w, shape: [2, 3]}
  - name: flat
    module: select
    inputs: [resh]
    parameters:
      select:
        - {name: doc_id}
        - {name: m}
        - {name: back, func: reshape, field: m, shape: [-1]}
  - name: out
    module: sql
    inputs: [flat]
    parameters:
      sql: "SELECT doc_id, element_at(element_at(m, 1), 2) AS r1c2, element_at(element_at(m, 2), 3) AS r2c3, size(m) AS n_rows, array_join(back, ' ') AS rejoined FROM flat"
"""),

    // FreeMarker-subset template directives (<#if>/<#elseif>/<#else>
    // + builtins) compiled to when-chains — replays as CASE in SQL
    "q60_template_cond" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: out
    module: select
    inputs: [orders]
    parameters:
      select:
        - {name: o_orderkey}
        - {name: label, func: text, text: "${o_orderstatus?lower_case}:<#if o_totalprice gte 200000>big<#elseif o_totalprice gte 100000>mid<#else>small</#if>"}
"""),

    // native protobuf wire codec roundtrip (ops/ProtoCodec, q54's
    // protobuf twin): all values are nonzero/non-empty so proto3's
    // absent-default convention can't null anything
    "q59_protobuf_roundtrip" -> pipe("out", """
sources:
  - name: orders
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: ser
    module: serialize
    inputs: [orders]
    parameters:
      format: protobuf
      fields: [o_orderkey, o_orderstatus, o_totalprice]
      outputField: payload
  - name: keep
    module: sql
    inputs: [ser]
    parameters:
      sql: "SELECT payload FROM ser"
  - name: de
    module: deserialize
    inputs: [keep]
    parameters:
      format: protobuf
      field: payload
      outputField: rec
      schema:
        fields:
          - {name: o_orderkey, type: int64}
          - {name: o_orderstatus, type: string}
          - {name: o_totalprice, type: float64}
  - name: out
    module: sql
    inputs: [de]
    parameters:
      sql: "SELECT rec.o_orderkey AS o_orderkey, rec.o_orderstatus AS o_orderstatus, rec.o_totalprice AS o_totalprice FROM de"
"""),

    // §2.11 failure routing consumed END-TO-END: deterministic bad
    // payloads (doc_id % 10 == 0) fail json deserialize and land in
    // the module's `.failures` collection, which a downstream sql
    // step reads like any other collection
    "q58_failures" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: prep
    module: sql
    inputs: [docs]
    parameters:
      sql: "SELECT doc_id, CASE WHEN doc_id % 10 = 0 THEN concat('oops', CAST(doc_id AS STRING)) ELSE concat('{\"id\":', CAST(doc_id AS STRING), ',\"v\":\"ok\"}') END AS payload FROM docs"
  - name: de
    module: deserialize
    inputs: [prep]
    parameters:
      format: json
      field: payload
      outputField: rec
      schema:
        fields:
          - {name: id, type: int64}
          - {name: v, type: string}
  - name: out
    module: sql
    inputs: [de.failures]
    parameters:
      sql: "SELECT doc_id, payload FROM de_failures"
"""),

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

    // reshuffle (the reference's fusion break, kept as explicit
    // shard control) is a VALUES no-op by contract — driver-gated
    // as an identity through a repartition on (key, 8 partitions)
    "q160_reshuffle" -> pipe("out", """
sources:
  - name: ord
    module: storage
    parameters: {path: "${dir}/orders.parquet"}
transforms:
  - name: rs
    module: reshuffle
    inputs: [ord]
    parameters: {fields: [o_custkey], numPartitions: 8}
  - name: out
    module: sql
    inputs: [rs]
    parameters:
      sql: "SELECT o_orderkey, o_custkey, o_orderstatus FROM rs"
"""),

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

    // embed THROUGH the onnx Session seam: 8×8 fixture PNGs really
    // decode (ImageIO) to a 192-element normalized pixel tensor and
    // run batched through the stub:linear session (2x+1 elementwise)
    // — the oracle replays the pixel fill arithmetic, the /255
    // normalization and the linear map, so a hash match proves the
    // whole bytes → decode → tensor → session.run → array<float>
    // chain. A real vision encoder swaps in via
    // OnnxTransform.sessionFactory with zero pipeline changes.
    // The compared output serializes the array to a string (house
    // rule, mirrors q121/q13): the driver's pandas comparator cannot
    // sort raw array cells — this was r20's one red gate.
    "q207_embed_session" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: dims
    module: select
    inputs: [docs]
    parameters:
      select:
        - {name: doc_id}
        - {name: w, expression: "8", type: int64}
        - {name: h, expression: "8", type: int64}
  - name: mm
    module: multimodal
    inputs: [dims]
    parameters:
      ops:
        - {op: generate, widthField: w, heightField: h, seedField: doc_id, name: img}
        - {op: embed, field: img, model: "stub:linear", grid: 8, name: emb}
  - name: out
    module: sql
    inputs: [mm]
    parameters:
      sql: "SELECT doc_id, array_join(transform(emb, x -> format_string('%.6f', x)), ',') AS emb_s FROM mm"
"""),

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

    // profile DRIFT read (baselineInput): corpus drift between two
    // snapshots — per-column null-rate/mean deltas plus PSI over
    // baseline-anchored equi-width buckets (clamped edges catch
    // out-of-support mass, Laplace-smoothed proportions keep empty
    // buckets finite). The time-split halves of one iid fixture
    // should read "stable" (psi ≈ 0) — the VALUES are pinned against
    // the DuckDB replay of the same formula
    "q170_profile_drift" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: b
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts < TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: c
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts >= TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: dr
    module: profile
    inputs: [c, b]
    parameters:
      baselineInput: b
      fields: [value, user_id, event_type]
      psiBuckets: 10
      psiCategories: 20
  - name: out
    module: sql
    inputs: [dr]
    parameters:
      sql: "SELECT `column`, n_base, n_cur, nulls_base, nulls_cur, round(null_frac_delta, 6) AS nfd_r, round(mean_delta, 6) AS mean_delta_r, round(psi, 6) AS psi_r FROM dr"
"""),

    // q170's drift profile with approx: true — numeric PSI over
    // BASELINE QUANTILE buckets read off a KLL sketch (one pass,
    // fixed mergeable state; robust to heavy tails where equi-width
    // grids collapse). kllK 65535 > baseline rows at either sf keeps
    // the sketch exact, so the oracle replays the inclusive-quantile
    // edges as order statistics (double-arithmetic rank compare —
    // see driftApproxOracleSql) and the gate hash-checks
    "q175_profile_drift_approx" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: b
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts < TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: c
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT * FROM ev WHERE ts >= TIMESTAMP_NTZ '2024-01-15 00:00:00'"
  - name: dr
    module: profile
    inputs: [c, b]
    parameters:
      baselineInput: b
      fields: [value, user_id, event_type]
      psiBuckets: 10
      psiCategories: 20
      approx: true
      kllK: 65535
  - name: out
    module: sql
    inputs: [dr]
    parameters:
      sql: "SELECT `column`, n_base, n_cur, nulls_base, nulls_cur, round(null_frac_delta, 6) AS nfd_r, round(mean_delta, 6) AS mean_delta_r, round(psi, 6) AS psi_r FROM dr"
"""),

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

    // §2.6 frequent-items sketches, two-stage: per-bucket
    // top_k_accumulate sketches merge through top_k_combine and
    // estimate once — the incremental corpus-stats pattern (sketch
    // per day, merge at read). k = the full 5-value domain and
    // maxItemsTracked >= distincts, so every count is EXACT and the
    // exploded (item, cnt) rows hash-match the plain GROUP BY oracle
    // without depending on the sketch's tie order.
    "q96_topk_sketch" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: bk
    module: sql
    inputs: [ev]
    parameters:
      sql: "SELECT event_type, event_id % 8 AS b FROM ev"
  - name: agg1
    module: aggregation
    inputs: [bk]
    parameters:
      groupFields: [b]
      aggregations:
        - input: bk
          fields:
            - {name: sk, op: top_k_accumulate, field: event_type, maxItemsTracked: 16}
  - name: agg2
    module: aggregation
    inputs: [agg1]
    parameters:
      groupFields: []
      aggregations:
        - input: agg1
          fields:
            - {name: sk2, op: top_k_combine, field: sk, maxItemsTracked: 16}
  - name: out
    module: sql
    inputs: [agg2]
    parameters:
      sql: "SELECT t.item AS item, t.count AS cnt FROM agg2 LATERAL VIEW explode(approx_top_k_estimate(sk2, 5)) ex AS t"
"""),

    // §2.9 timestampCombiner (reference Strategy.java:85-90, Beam
    // TimestampCombiner): the aggregate's OUTPUT event time under all
    // three policies over the same 6h windows — EARLIEST = min input
    // ts, LATEST = max input ts, END_OF_WINDOW = window end − 1 ms
    // (Beam's maxTimestamp); oracle replays min/max/boundary in
    // micros. Batch leg of the unit-only §2.9 surface.
    "q104_timestamp_combiner" -> pipe("out", """
sources:
  - name: ev
    module: storage
    parameters: {path: "${dir}/events.parquet"}
transforms:
  - name: ae
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      timestampCombiner: EARLIEST
      window: {type: fixed, unit: hour, size: 6}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
  - name: al
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      timestampCombiner: LATEST
      window: {type: fixed, unit: hour, size: 6}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
  - name: aw
    module: aggregation
    inputs: [ev]
    strategy:
      timestampField: ts
      timestampCombiner: END_OF_WINDOW
      window: {type: fixed, unit: hour, size: 6}
    parameters:
      groupFields: [event_type]
      aggregations:
        - input: ev
          fields:
            - {name: n, op: count}
  - name: out
    module: sql
    inputs: [ae, al, aw]
    parameters:
      sql: "SELECT CAST(unix_micros(CAST(ae.window.start AS TIMESTAMP)) / 1000000 AS BIGINT) AS win_start, ae.event_type, ae.n, unix_micros(CAST(ae.__event_time AS TIMESTAMP)) AS earliest_us, unix_micros(CAST(al.__event_time AS TIMESTAMP)) AS latest_us, unix_micros(CAST(aw.__event_time AS TIMESTAMP)) AS eow_us FROM ae JOIN al ON ae.window = al.window AND ae.event_type = al.event_type JOIN aw ON ae.window = aw.window AND ae.event_type = aw.event_type"
"""),

    // tokenizer-exact chunking: tokenize (lowercase whitespace
    // analyzer) feeds chunk via `tokensField`, so windows count
    // ANALYZER tokens, not raw whitespace ones — the BPE-shaped
    // composition (swap the analyzer chain for a BPE tokenizer and
    // the windows are BPE-exact). Chunks emit as token-array slices;
    // the gate joins them for the pandas-sortable compare.
    "q107_chunk_tokens" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: tk
    module: tokenize
    inputs: [docs]
    parameters:
      fields:
        - {name: toks, input: text}
  - name: ck
    module: chunk
    inputs: [tk]
    parameters: {tokensField: toks, size: 32, overlap: 8}
  - name: out
    module: select
    inputs: [ck]
    parameters:
      select:
        - {name: doc_id}
        - {name: chunk_s, func: concat, fields: [chunk], delimiter: " "}
        - {name: chunk_index}
        - {name: chunk_offset}
"""),

    // composed LLM-data recipe: chunk → (stub-)embed → QUANTIZED
    // int8 ANN index with dequantize-on-read. Documents chunk into
    // token windows, each chunk gets its embedding via a
    // deterministic rank join (the honest encoder stub — replayable
    // by any engine), and the similarity module searches the corpus
    // with `quantized: true`: the index carries (int8 q, scale) —
    // 4x smaller — and reconstructs vectors at scoring time. The
    // oracle replays the whole chain: chunk counts, rank pairing,
    // round(v/scale)*scale reconstruction, cosine rank.
    "q105_chunk_quantized_knn" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
  - name: emb
    module: storage
    parameters: {path: "${dir}/embeddings.parquet"}
transforms:
  - name: ck
    module: chunk
    inputs: [docs]
    parameters: {field: text, size: 40, overlap: 10}
  - name: pair
    module: sql
    inputs: [ck, emb]
    parameters:
      sql: "SELECT CAST(ckr.rn AS BIGINT) AS cid, er.embedding FROM (SELECT row_number() OVER (ORDER BY doc_id, chunk_index) AS rn FROM ck) ckr JOIN (SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding FROM emb) er ON ckr.rn = er.rn"
  - name: qset
    module: sql
    inputs: [emb]
    parameters:
      sql: "SELECT CAST(vec_id + 1000000 AS BIGINT) AS cid, embedding FROM emb WHERE vec_id < 5"
  - name: knn
    module: similarity
    inputs: [pair, qset]
    parameters: {method: bruteforce, field: embedding, idField: cid, k: 5, quantized: true}
  - name: out
    module: select
    inputs: [knn]
    parameters:
      select:
        - {name: query_id}
        - {name: neighbor_id}
        - {name: rank, type: int32}
"""),

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

    // training-data op: sliding token-window chunking (size 40,
    // overlap 10 → stride 30) — every document splits into
    // overlapping context-window pieces; zero-shuffle
    // split+sequence+slice+posexplode, oracle replays the identical
    // windowing with DuckDB list slicing
    "q97_chunk" -> pipe("out", """
sources:
  - name: docs
    module: storage
    parameters: {path: "${dir}/documents.parquet"}
transforms:
  - name: out
    module: chunk
    inputs: [docs]
    parameters:
      field: text
      size: 40
      overlap: 10
      select:
        - {name: doc_id}
        - {name: chunk}
        - {name: chunk_index}
        - {name: chunk_offset}
"""),

    // pivot, DISCOVERED values twin of q84: no `values:` declared, so
    // the engine first runs the capped distinct scan over the pivot
    // field (spark.sql.pivotMaxValues), then pivots — must agree with
    // the declared-values gate's oracle exactly
    "q94_pivot_discovered" -> pipe("out", """
sources:
  - name: li
    module: storage
    parameters: {path: "${dir}/lineitem.parquet"}
transforms:
  - name: pv
    module: pivot
    inputs: [li]
    parameters:
      groupFields: [l_returnflag]
      pivotField: l_linestatus
      aggregations:
        - {name: qty, op: sum, field: l_quantity}
        - {name: n, op: count}
  - name: out
    module: select
    inputs: [pv]
    parameters:
      select:
        - {name: l_returnflag}
        - {name: o_qty_r, expression: "round(O_qty, 4)"}
        - {name: o_n, field: O_n}
        - {name: f_qty_r, expression: "round(F_qty, 4)"}
        - {name: f_n, field: F_n}
""")
  )

  // ---------------------------------------------------------------
  /** Loopback HTTP fixtures for the http gates: one jdk.httpserver
    * per (gate, sf-dir), started lazily, reused across bench reps,
    * stopped by a JVM shutdown hook. 127.0.0.1-only; nothing leaves
    * the process boundary. */
  private val httpFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Closers for every running fixture. Verify/Bench MUST call
    * [[closeFixtures]] before returning: the jdk.httpserver dispatcher
    * thread is non-daemon, so a shutdown hook alone can never fire —
    * the JVM would wait on the dispatcher forever (this hung a full
    * gate battery for an hour). */
  private val fixtureClosers =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Stop every loopback fixture and forget the memoized ports (a
    * later gate run starts fresh servers). */
  def closeFixtures(): Unit = {
    var c = fixtureClosers.poll()
    while (c != null) {
      try c() catch { case _: Throwable => }
      c = fixtureClosers.poll()
    }
    httpFixtures.clear()
    wsFixtures.clear()
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Start (or reuse) a fixture server with the given query-string →
    * JSON-body routes; returns the bound port. */
  private def fixturePort(key: String)(
      routes: (String, String => String)*): Int =
    httpFixtures.computeIfAbsent(key, _ => {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      routes.foreach { case (path, handler) =>
        srv.createContext(path,
          (ex: com.sun.net.httpserver.HttpExchange) => try {
            val q = Option(ex.getRequestURI.getQuery).getOrElse("")
            val bytes = handler(q).getBytes("UTF-8")
            ex.getResponseHeaders.add("Content-Type", "application/json")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          } finally ex.close())
      }
      // DAEMON pool: a default executor's non-daemon threads keep the
      // whole Verify/Bench JVM alive after main returns (the shutdown
      // hook can never fire because shutdown never starts) — this hung
      // a full gate battery for an hour before being caught
      srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
        8, (r: Runnable) => {
          val t = new Thread(r, "graft-http-fixture")
          t.setDaemon(true)
          t
        }))
      srv.start()
      fixtureClosers.add(() => srv.stop(0))
      Integer.valueOf(srv.getAddress.getPort)
    }).intValue()

  /** Minimal RFC 6455 loopback fixture for the websocket gate: every
    * connection is upgraded, the client's subscription frame is read,
    * then `messages` are sent as text frames and the connection held
    * open (each gate run subscribes fresh and receives the full
    * sequence). 127.0.0.1-only, daemon threads, socket closed by a
    * JVM shutdown hook. */
  private val wsFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def wsFixturePort(key: String, messages: Seq[String]): Int =
    wsFixtures.computeIfAbsent(key, _ => {
      val server = new java.net.ServerSocket(
        0, 50, java.net.InetAddress.getLoopbackAddress)
      fixtureClosers.add(() =>
        try server.close() catch { case _: Throwable => })
      val acceptor = new Thread(() => {
        try {
          while (!server.isClosed) {
            val sock = server.accept()
            val conn = new Thread(() => {
              try {
                val in = sock.getInputStream
                val out = sock.getOutputStream
                wsHandshake(in, out)
                wsReadTextFrame(in) // subscription request
                messages.foreach(m => wsWriteTextFrame(out, m))
                while (!server.isClosed) Thread.sleep(50)
              } catch { case _: Throwable => }
              finally { try sock.close() catch { case _: Throwable => } }
            }, s"graft-ws-fixture-conn")
            conn.setDaemon(true)
            conn.start()
          }
        } catch { case _: Throwable => }
      }, "graft-ws-fixture")
      acceptor.setDaemon(true)
      acceptor.start()
      Integer.valueOf(server.getLocalPort)
    }).intValue()

  /** RFC 6455 §4.2.2 upgrade: accept = b64(sha1(key + fixed GUID)). */
  private def wsHandshake(in: java.io.InputStream,
      out: java.io.OutputStream): Unit = {
    val req = new StringBuilder
    while (!req.endsWith("\r\n\r\n")) {
      val c = in.read()
      require(c >= 0, "client closed during handshake")
      req.append(c.toChar)
    }
    val key = req.toString.linesIterator
      .find(_.toLowerCase(java.util.Locale.ROOT)
        .startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(throw new IllegalStateException(
        "no Sec-WebSocket-Key header"))
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.flush()
  }

  /** Server→client text frame, unmasked (§5.1); supports the 126
    * two-byte extended length for payloads up to 64 KiB. */
  private def wsWriteTextFrame(out: java.io.OutputStream,
      text: String): Unit = {
    val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(payload.length < 65536, "fixture frames stay under 64KiB")
    out.write(0x81)
    if (payload.length < 126) out.write(payload.length)
    else {
      out.write(126)
      out.write(payload.length >> 8)
      out.write(payload.length & 0xff)
    }
    out.write(payload)
    out.flush()
  }

  /** Client→server frames are masked; unmask per §5.3, skip control
    * frames. */
  private def wsReadTextFrame(in: java.io.InputStream): String = {
    while (true) {
      val b0 = in.read()
      val b1 = in.read()
      require(b0 >= 0 && b1 >= 0, "client closed")
      val opcode = b0 & 0x0f
      val masked = (b1 & 0x80) != 0
      var len = (b1 & 0x7f).toLong
      if (len == 126) len = (in.read() << 8) | in.read()
      else if (len == 127) {
        len = 0
        for (_ <- 0 until 8) len = (len << 8) | in.read()
      }
      val mask =
        if (masked) Array.fill(4)(in.read().toByte)
        else Array.empty[Byte]
      val payload = new Array[Byte](len.toInt)
      var off = 0
      while (off < len) {
        val n = in.read(payload, off, len.toInt - off)
        require(n > 0, "client closed mid-frame")
        off += n
      }
      if (masked)
        for (i <- payload.indices)
          payload(i) = (payload(i) ^ mask(i % 4)).toByte
      if (opcode == 1)
        return new String(payload,
          java.nio.charset.StandardCharsets.UTF_8)
    }
    throw new IllegalStateException("unreachable")
  }

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
  /** DuckDB oracle for each hash-comparable query. The md5-mode
    * dedup/similarity gates (q20/q21/q22/q24/q33/q34) replay their
    * full hash pipelines in SQL — q33's auto-fit IVF included, since
    * its md5-seeded codebook (fitIterations 0) is an ORDER BY
    * md5(id) LIMIT n selection any SQL engine reproduces. Every
    * gate is hash-checked. */
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

  def oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n_rows,
           count(*) FILTER (l_quantity > 40) AS n_big,
           max(l_quantity) AS max_qty,
           min(l_quantity) AS min_qty
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-12-01'
         GROUP BY 1, 2""",

    "q2_filter" ->
      """SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           l_returnflag || '/' || l_linestatus AS flag_status
         FROM lineitem
         WHERE l_quantity > 45
           AND (l_returnflag IN ('A','R') OR regexp_matches(l_linestatus, '^F'))
           AND l_shipdate < TIMESTAMP '1996-01-01'""",

    "q3_sql_join" ->
      """SELECT n.n_name, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE o.o_orderstatus = 'F'
         GROUP BY n.n_name""",

    "q4_lookup" ->
      """SELECT o.o_orderkey, c.c_name,
           round(o.o_totalprice * 2, 2) AS total2
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",

    "q5_partition" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_returnflag = 'R'""",

    "q6_union" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE l_returnflag WHEN 'A' THEN 0 ELSE 1 END AS src
         FROM lineitem WHERE l_returnflag IN ('A','R')""",

    "q7_unnest" ->
      """SELECT t.token, count(*) AS n
         FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
               FROM documents) t
         GROUP BY t.token""",

    // windowed quantile_cont interpolates like Spark's exact
    // percentile; count:11 = 10 preceding + current
    "q90_rolling_median" ->
      """SELECT event_id, user_id,
           round(median(value) OVER w, 4) AS med_r,
           round(quantile_cont(value, 0.9) OVER w, 4) AS p90_r
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)""",

    "q8_window" ->
      """SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS INT) AS rn,
           lag(value) OVER w AS prev_value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS run3r
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)""",

    "q9_limit" ->
      """SELECT user_id, event_id, value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id DESC) AS rn
           FROM events) WHERE rn <= 2""",

    "q10_first_last" ->
      """SELECT user_id,
           min_by(value, ts) AS first_value,
           max_by(value, ts) AS last_value,
           max_by(event_type, ts) AS last_type,
           min_by(event_type, ts) AS first_type,
           any_value(user_id) AS uid_any,
           count(*) AS n
         FROM events GROUP BY user_id""",

    "q11_stats" ->
      """SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_samp_r,
           round(stddev_pop(l_quantity), 4) AS sd_pop_r,
           round(var_samp(l_quantity), 4) AS v_samp_r,
           round(sum(l_quantity * l_extendedprice) / sum(l_extendedprice), 4) AS wavg_r
         FROM lineitem GROUP BY l_returnflag""",

    // exact distinct / median / interpolated percentile — DuckDB
    // quantile_cont matches Spark's exact `percentile` interpolation
    "q80_agg_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS parts,
           round(median(l_quantity), 4) AS med_qty_r,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_r,
           count(DISTINCT CASE WHEN l_quantity > 25 THEN l_partkey END)
             AS hi_parts
         FROM lineitem GROUP BY l_returnflag""",

    // DuckDB GROUPING(a, b) emits the same subtotal bitmask as
    // Spark's grouping_id()
    "q81_rollup" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n, round(sum(l_quantity), 4) AS qty_r
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "q12_regression" ->
      """SELECT o_orderpriority,
           round(regr_slope(o_totalprice, o_custkey), 6) AS slope_r,
           round(regr_intercept(o_totalprice, o_custkey), 4) AS icept_r,
           round(sqrt(greatest(regr_syy(o_totalprice, o_custkey)
               - regr_slope(o_totalprice, o_custkey) ^ 2
                 * regr_sxx(o_totalprice, o_custkey), 0)
             / regr_count(o_totalprice, o_custkey)), 4) AS rmse_r
         FROM orders GROUP BY o_orderpriority""",

    "q13_array_agg" ->
      """SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
             AS statuses,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",

    "q14_dedup_exact" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY array_to_string(list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> ''), ' ')
             ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1""",

    "q15_text_stats" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '')) AS INT) AS n_tokens,
           md5(text) AS text_md5
         FROM documents""",

    "q16_json" ->
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           count(*) AS n
         FROM events GROUP BY event_type""",

    "q17_select_funcs" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
             AS status_or_null,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           sha256(CAST(o_orderkey AS VARCHAR)) AS key_sha,
           to_base64(ENCODE(o_orderpriority)) AS pri_b64
         FROM orders""",

    "q18_expression" ->
      """SELECT l_orderkey, l_linenumber,
           round(sqrt(l_quantity) + ln(l_extendedprice)
             + CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END
             + least(l_tax, 0.04), 6) AS math_mix,
           CAST(floor(epoch_us(l_shipdate) / 86400000000.0) AS BIGINT)
             AS ship_epoch_day
         FROM lineitem""",

    "q26_create_seq" ->
      """SELECT CAST(range AS BIGINT) AS value,
           CAST(range * range AS DOUBLE) AS sq
         FROM range(1, 1001)""",

    "q27_crypto_roundtrip" ->
      """SELECT c_custkey, c_name AS c_name_dec FROM customer""",

    "q28_bytes_roundtrip" ->
      """SELECT c_custkey, c_acctbal AS bal_rt FROM customer""",

    "q29_json_funcs" ->
      """SELECT n_nationkey,
           '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name
             || '"}' AS j,
           n_name AS name_back,
           '{"n_name":"' || n_name || '","n_regionkey":"'
             || CAST(n_regionkey AS VARCHAR) || '"}' AS mj
         FROM nation""",

    "q19_compare" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
         v2 AS (
           SELECT o_orderkey,
             CASE WHEN o_totalprice > 150000 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
           FROM orders WHERE o_orderkey < 999999)
         SELECT CASE
             WHEN v1.o_orderkey IS NULL THEN 'only_v2'
             WHEN v2.o_orderkey IS NULL THEN 'only_v1'
             WHEN v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice
              AND v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
               THEN 'match'
             ELSE 'difference' END AS result,
           count(*) AS n
         FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
         GROUP BY 1""",

    // q20/q34 run dedup in hashAlgo: md5 mode, whose every step (gram
    // extraction, one-md5-per-gram Kirsch-Mitzenmacher lane signature
    // `(h1 + p·h2 + p²·h3) mod 2^32` over the digest's 32-bit words,
    // banded bucket keys, bucket-min rep, Jaccard verify) is
    // reproducible in ANSI SQL — the point of the mode: LSH dedup
    // decisions auditable by any engine. The oracles below replay the
    // exact pipeline in DuckDB.
    "q20_dedup_minhash" ->
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
           FROM cand WHERE doc_id > rep GROUP BY doc_id)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)""",

    "q34_dedup_ngram" ->
      """WITH lows AS (
           SELECT doc_id, lower(text) AS t
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, substr(t, i::INT, 5) AS gram
           FROM lows, LATERAL unnest(range(1, length(t) - 3)) u(i)
           WHERE length(t) >= 5
           UNION ALL
           SELECT doc_id, t AS gram FROM lows WHERE length(t) < 5),
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
         cpairs AS (
           SELECT DISTINCT doc_id AS a, rep AS b
           FROM cand WHERE doc_id > rep),
         dgrams AS (SELECT DISTINCT doc_id, gram FROM grams),
         gsize AS (
           SELECT doc_id, count(*) AS n FROM dgrams GROUP BY doc_id),
         inter AS (
           SELECT p.a, p.b, count(*) AS i
           FROM cpairs p
           JOIN dgrams ga ON ga.doc_id = p.a
           JOIN dgrams gb ON gb.doc_id = p.b AND gb.gram = ga.gram
           GROUP BY p.a, p.b),
         ver AS (
           SELECT i.a, min(i.b) AS dup_of
           FROM inter i
           JOIN gsize sa ON sa.doc_id = i.a
           JOIN gsize sb ON sb.doc_id = i.b
           WHERE i.i::DOUBLE / (sa.n + sb.n - i.i) >= 0.7
           GROUP BY i.a)
         SELECT d.doc_id, CAST(ver.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN ver ON d.doc_id = ver.a""",

    // q21 md5-mode simhash replay: bit b of a token's hash is bit
    // (3 - b%4) of hex digit b/4 of md5(token); every token OCCURRENCE
    // votes +1/-1 per bit; sign -> '1'/'0', 64-char string; 4 bands of
    // 16 chars; bucket-min rep. Token-less docs simhash to all-'0'.
    "q21_dedup_simhash" ->
      """WITH toks AS (
           SELECT doc_id, a[i] AS tok
           FROM (SELECT doc_id, regexp_split_to_array(lower(text),
                   '[^\p{L}\p{Nd}'']+') AS a
                 FROM documents WHERE text IS NOT NULL) d,
                LATERAL unnest(range(1, len(a) + 1)) u(i)
           WHERE a[i] <> ''),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (('0x' || substr(md5(tok), b // 4 + 1, 1))
                   ::INT >> (3 - b % 4)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM toks CROSS JOIN range(0, 64) t(b)
           GROUP BY doc_id, b),
         sh AS (
           SELECT d.doc_id,
             coalesce(v.s, repeat('0', 64)) AS sh
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN (SELECT doc_id, string_agg(
                        CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                        ORDER BY b) AS s
                      FROM votes GROUP BY doc_id) v USING (doc_id)),
         bandkeys AS (
           SELECT doc_id, b AS band_idx, substr(sh, b * 16 + 1, 16) AS bh
           FROM sh CROSS JOIN range(0, 4) t(b)),
         cand AS (
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         dup AS (
           SELECT doc_id, min(rep) AS dup_of
           FROM cand WHERE doc_id > rep GROUP BY doc_id)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)""",

    // q65: the q21 simhash replay, then connected-component minima
    // over the bucket pair graph via a recursive CTE — depth-1
    // min-partner labels would hash-mismatch on the corpus's chains
    "q65_dedup_transitive" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, a[i] AS tok
           FROM (SELECT doc_id, regexp_split_to_array(lower(text),
                   '[^\p{L}\p{Nd}'']+') AS a
                 FROM documents WHERE text IS NOT NULL) d,
                LATERAL unnest(range(1, len(a) + 1)) u(i)
           WHERE a[i] <> ''),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (('0x' || substr(md5(tok), b // 4 + 1, 1))
                   ::INT >> (3 - b % 4)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM toks CROSS JOIN range(0, 64) t(b)
           GROUP BY doc_id, b),
         sh AS (
           SELECT d.doc_id,
             coalesce(v.s, repeat('0', 64)) AS sh
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN (SELECT doc_id, string_agg(
                        CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                        ORDER BY b) AS s
                      FROM votes GROUP BY doc_id) v USING (doc_id)),
         bandkeys AS (
           SELECT doc_id, b AS band_idx, substr(sh, b * 16 + 1, 16) AS bh
           FROM sh CROSS JOIN range(0, 4) t(b)),
         cand AS (
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         pairs AS (
           SELECT DISTINCT doc_id AS a, rep AS b
           FROM cand WHERE doc_id > rep),
         edges AS (
           SELECT a AS s, b AS d FROM pairs
           UNION SELECT b AS s, a AS d FROM pairs),
         reach(x, y) AS (
           SELECT s, d FROM edges
           UNION
           SELECT r.x, e.d FROM reach r JOIN edges e ON e.s = r.y),
         dup AS (
           SELECT x AS doc_id, min(y) AS dup_of
           FROM reach GROUP BY x HAVING min(y) < x)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)""",

    // q22 md5-mode hyperplane replay: plane p component i is uniform
    // [-1,1) from the first 8 hex digits of md5('plane:p:i'); bucket =
    // sign string of the 6 projections; min-id rep per bucket; cosine
    // (double-widened floats, same formula as the engine) >= 0.35.
    "q22_dedup_embedding" ->
      """WITH pl AS (
           SELECT p, i,
             ('0x' || substr(md5('plane:' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 6) t(p) CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.p),
         buck AS (
           SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id),
         cand AS (
           SELECT vec_id, min(vec_id) OVER (PARTITION BY bucket) AS rep
           FROM buck),
         pairs AS (
           SELECT vec_id AS a, rep AS b FROM cand WHERE vec_id > rep),
         cosv AS (
           SELECT p.a, p.b,
             sum(ea.embedding[u.i]::DOUBLE * eb.embedding[u.i]::DOUBLE) /
             (sqrt(sum(ea.embedding[u.i]::DOUBLE
                     * ea.embedding[u.i]::DOUBLE)) *
              sqrt(sum(eb.embedding[u.i]::DOUBLE
                     * eb.embedding[u.i]::DOUBLE))) AS c
           FROM pairs p
           JOIN e ea ON ea.vec_id = p.a
           JOIN e eb ON eb.vec_id = p.b,
           LATERAL unnest(range(1,
             least(len(ea.embedding), len(eb.embedding)) + 1)) u(i)
           GROUP BY p.a, p.b),
         dup AS (
           SELECT a, min(b) AS dup_of FROM cosv WHERE c >= 0.35 GROUP BY a)
         SELECT em.vec_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM embeddings em LEFT JOIN dup ON em.vec_id = dup.a""",

    // q66 SemDeDup replay: cell p = position p in the codebookIds
    // list (ascending ids, so row_number over vec_id reproduces it);
    // each vector assigns to its max-cosine cell (tie: lowest cell,
    // the engine's stable-sort order); the per-cell rep is the doc
    // LEAST similar to its centroid (tie: min id); members cosine-
    // verify against the rep with the exact engine formula.
    "q66_dedup_semdedup" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding AS cvec
           FROM e WHERE vec_id IN (0, 31, 62, 93, 124, 155, 186, 217,
             248, 279, 310, 341, 372, 403, 434, 465)),
         sims AS (
           SELECT e.vec_id, cents.cell,
             list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]),
               CAST(cents.cvec AS DOUBLE[])) AS csim,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         assign AS (SELECT vec_id, cell, csim FROM sims WHERE rn = 1),
         rep AS (
           SELECT cell, vec_id AS rep_id FROM (
             SELECT cell, vec_id,
               row_number() OVER (PARTITION BY cell
                 ORDER BY csim ASC, vec_id) AS rr
             FROM assign) WHERE rr = 1),
         pairs AS (
           SELECT a.vec_id AS a, r.rep_id AS b
           FROM assign a JOIN rep r ON a.cell = r.cell
           WHERE a.vec_id <> r.rep_id),
         cosv AS (
           SELECT p.a, p.b,
             sum(ea.embedding[u.i]::DOUBLE * eb.embedding[u.i]::DOUBLE) /
             (sqrt(sum(ea.embedding[u.i]::DOUBLE
                     * ea.embedding[u.i]::DOUBLE)) *
              sqrt(sum(eb.embedding[u.i]::DOUBLE
                     * eb.embedding[u.i]::DOUBLE))) AS c
           FROM pairs p
           JOIN e ea ON ea.vec_id = p.a
           JOIN e eb ON eb.vec_id = p.b,
           LATERAL unnest(range(1,
             least(len(ea.embedding), len(eb.embedding)) + 1)) u(i)
           GROUP BY p.a, p.b),
         dup AS (SELECT a, min(b) AS dup_of FROM cosv WHERE c >= 0.35
           GROUP BY a)
         SELECT em.vec_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM embeddings em LEFT JOIN dup ON em.vec_id = dup.a""",

    // q69 cross-corpus replay: identical signature/band CTEs to q20,
    // then primary (id >= 100) band keys equi-join reference
    // (id < 100) band keys; dup_of = min matching reference id.
    "q69_dedup_cross" ->
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
         dup AS (
           SELECT p.doc_id, min(r.doc_id) AS dup_of
           FROM bandkeys p JOIN bandkeys r
             ON p.band_idx = r.band_idx AND p.bh = r.bh
           WHERE p.doc_id >= 100 AND r.doc_id < 100
           GROUP BY p.doc_id)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)
         WHERE d.doc_id >= 100""",

    // q67 mixture replay: one SELECT per epoch leg; fractional legs
    // filter on the engine's exact md5-bucket predicate keyed
    // input#epoch#doc_id (0.5 → 0x80000000, 0.25 → 0x40000000).
    "q67_mixture" ->
      """WITH web AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src0','src1','src2','src3','src4','src5','src6')),
         code AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src7','src8','src9','src10','src11','src12','src13')),
         wiki AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src14','src15','src16','src17','src18','src19'))
         SELECT doc_id, source, 'web' AS mix_source,
           CAST(0 AS INTEGER) AS mix_epoch FROM web
         UNION ALL
         SELECT doc_id, source, 'web', CAST(1 AS INTEGER) FROM web
         UNION ALL
         SELECT doc_id, source, 'web', CAST(2 AS INTEGER) FROM web
         WHERE substr(md5('web#2#' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '80000000'
         UNION ALL
         SELECT doc_id, source, 'code', CAST(0 AS INTEGER) FROM code
         UNION ALL
         SELECT doc_id, source, 'wiki', CAST(0 AS INTEGER) FROM wiki
         WHERE substr(md5('wiki#0#' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '40000000'""",

    // q68 Gopher rules replay: whitespace words, blank lines dropped,
    // normalized-token stop-word membership — each formula mirrors
    // the engine's Column expression operand-for-operand.
    "q68_gopher" ->
      """WITH g AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x <> '') AS words,
             list_filter(string_split(text, chr(10)),
               l -> trim(l) <> '') AS lines,
             list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> '') AS tk,
             CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               AS word_chars,
             CAST(len(regexp_extract_all(text, '#|\.{3}|…')) AS DOUBLE)
               AS n_symbols
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(words) AS BIGINT) AS gopher_n_words,
             round(word_chars /
               greatest(len(words), 1), 6) AS gopher_mean_word_len,
             round(n_symbols /
               greatest(len(words), 1), 6) AS gopher_symbol_ratio,
             round(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[•\-\*]'))) AS DOUBLE) /
               greatest(len(lines), 1), 6) AS gopher_bullet_ratio,
             round(CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE) /
               greatest(len(lines), 1), 6) AS gopher_ellipsis_ratio,
             round(CAST(len(list_filter(words,
                 w -> regexp_matches(w, '\p{L}'))) AS DOUBLE) /
               greatest(len(words), 1), 6) AS gopher_alpha_ratio,
             CAST((CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'be') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'to') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'of') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'that') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'have') THEN 1 ELSE 0 END)
               + (CASE WHEN list_contains(tk, 'with') THEN 1 ELSE 0 END)
               AS BIGINT) AS gopher_stop_hits
           FROM g)
         SELECT *,
           (gopher_n_words BETWEEN 30 AND 100000
            AND gopher_mean_word_len BETWEEN 3 AND 10
            AND gopher_symbol_ratio < 0.1
            AND gopher_bullet_ratio < 0.9
            AND gopher_ellipsis_ratio < 0.3
            AND gopher_alpha_ratio > 0.8
            AND gopher_stop_hits >= 1) AS gopher_keep
         FROM m""",

    "q30_template" ->
      """SELECT o_orderkey,
           'order ' || o_orderkey || ' is ' || o_orderpriority AS msg
         FROM orders""",

    "q35_agg_expression" ->
      """SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue_r,
           round(sum(l_extendedprice * (1 - l_discount))
             FILTER (l_discount > 0.03), 2) AS disc_rev_r,
           round(max(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
             AS max_charge_r
         FROM lineitem GROUP BY l_returnflag""",

    "q36_union_mappings" ->
      """SELECT c_custkey AS entity_key, c_name AS entity_name,
             'c' AS kind FROM customer
         UNION ALL
         SELECT s_suppkey AS entity_key, s_name AS entity_name,
             's' AS kind FROM supplier""",

    "q37_limit_first" ->
      """SELECT user_id, event_id FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events) WHERE rn <= 3""",

    "q38_session_window" ->
      """WITH t AS (
           SELECT user_id, epoch_us(ts) AS u
           FROM events),
         o AS (
           SELECT user_id, u,
             -- Spark session_window merges an event at EXACTLY
             -- start+gap (closed interval): break only beyond the
             -- gap; micros granularity matches the engine exactly
             CASE WHEN lag(u) OVER w IS NULL
                    OR u - lag(u) OVER w > 1800000000
               THEN 1 ELSE 0 END AS brk
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY u)),
         g AS (
           SELECT user_id, u,
             sum(brk) OVER (PARTITION BY user_id ORDER BY u
               ROWS UNBOUNDED PRECEDING) AS grp
           FROM o)
         SELECT user_id,
           CAST(floor(min(u) / 1000000) AS BIGINT) AS sess_start,
           count(*) AS n
         FROM g GROUP BY user_id, grp""",

    "q39_sliding_window" ->
      """WITH t AS (
           SELECT event_type,
             CAST(floor(epoch_ns(ts) / 1000000000) AS BIGINT) AS s
           FROM events),
         w AS (
           SELECT event_type, s,
             unnest([CAST(floor(s / 3600) * 3600 AS BIGINT),
                     CAST(floor(s / 3600) * 3600 - 3600 AS BIGINT)])
               AS win_start
           FROM t)
         SELECT win_start, event_type, count(*) AS n
         FROM w
         WHERE s >= win_start AND s < win_start + 7200
         GROUP BY win_start, event_type""",

    "q31_fixed_window" ->
      """SELECT CAST(floor(floor(epoch_ns(ts) / 1000000000) / 21600)
             * 21600 AS BIGINT) AS win_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_r
         FROM events GROUP BY 1, 2""",

    "q32_calendar_window" ->
      """SELECT CAST(CAST(to_timestamp(floor(epoch_ns(ts) / 1000000000))
             AS DATE) AS VARCHAR) AS day_str,
           count(*) AS n,
           array_to_string(list_sort(list(DISTINCT user_id)), ',')
             AS uniq_users
         FROM events GROUP BY 1""",

    // streaming week buckets in America/New_York: the data is all
    // January (EST = fixed UTC-5, no DST transition inside it), so a
    // constant -5h shift reproduces the engine's full-zone-rules
    // bucketing; append mode can only flush watermark-closed buckets,
    // which for a final watermark of max(ts)-1s is every week but the
    // last
    "q70_calendar_week_stream" ->
      """WITH t AS (
           SELECT date_trunc('week', ts - INTERVAL 5 HOUR)
                    + INTERVAL 5 HOUR AS w,
                  event_type
           FROM events)
         SELECT CAST(epoch(w) AS BIGINT) AS week_s, event_type,
           count(*) AS n
         FROM t WHERE w < (SELECT max(w) FROM t)
         GROUP BY 1, 2""",

    // anchored 3-day calendar buckets: same floor-division day
    // arithmetic as the engine, on zone-free DATEs
    "q78_calendar_anchored" ->
      """SELECT DATE '2024-01-05' + to_days(CAST(floor(
             date_diff('day', DATE '2024-01-05', CAST(ts AS DATE))
             / 3.0) AS INT) * 3) AS bucket,
           event_type, count(*) AS n, round(sum(value), 4) AS total_r
         FROM events GROUP BY 1, 2""",

    // span-level dup fractions rebuilt from the literal span STRINGS
    // (the engine compares 64-bit span hashes; identical modulo
    // astronomically unlikely collisions)
    "q79_dedup_spans" ->
      """WITH prep AS (
           SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text ||
             ' terms of service apply all rights reserved contact us at example dot com for details'
             ELSE text END AS text
           FROM documents),
         toks AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(text, '[ \t\n\f\r]+'),
             t -> len(t) > 0) AS t
           FROM prep),
         spans AS (
           SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS s
           FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
                 FROM toks WHERE len(t) >= 8)),
         dup AS (
           SELECT s FROM (SELECT DISTINCT s, doc_id FROM spans)
           GROUP BY s HAVING count(*) >= 2),
         cnt AS (
           SELECT sp.doc_id, count(*) AS tot, count(d.s) AS dup
           FROM spans sp LEFT JOIN dup d ON sp.s = d.s
           GROUP BY sp.doc_id)
         SELECT p.doc_id AS doc_id,
           round(coalesce(c.dup * 1.0 / c.tot, 0.0), 6) AS frac_r
         FROM prep p LEFT JOIN cnt c ON p.doc_id = c.doc_id""",

    // discarding panes: one aggregate row per (micro-batch, window,
    // key) — the batch key replays as the staged ts ranges; an
    // accumulating engine would emit running totals and mismatch.
    // The batches are time-ordered, so the clock a batch leaves is
    // its own max ts: a window ending after it is early, any other
    // closes ON_TIME in that batch (no window straddles a batch)
    "q77_discarding_panes" ->
      """WITH b AS (
           SELECT CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 1
                       WHEN ts < TIMESTAMP '2024-01-21' THEN 2
                       ELSE 3 END AS batch,
                  CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                    AS win_start,
                  event_type, value, ts
           FROM events),
         c AS (SELECT batch, max(epoch_ms(ts)) AS clock_ms
               FROM b GROUP BY batch)
         SELECT win_start, event_type, count(*) AS n,
           round(sum(value), 4) AS total_r,
           CASE WHEN (win_start + 21600) * 1000 > any_value(clock_ms)
             THEN 'early' ELSE 'onTime' END AS pane
         FROM b JOIN c USING (batch)
         GROUP BY batch, win_start, event_type""",

    // two-stage sketch merge must equal exact distinct on the
    // bounded (mod 97) domain — coupon-exact at every sf
    "q87_hll_sketch" ->
      """SELECT l_returnflag,
           count(DISTINCT l_suppkey % 97) AS suppliers
         FROM lineitem GROUP BY l_returnflag""",

    "q89_jaro_winkler" ->
      """SELECT a.n_name AS n1, b.n_name AS n2,
           round(jaro_winkler_similarity(a.n_name, b.n_name), 6)
             AS sim_r
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey""",

    // DuckDB levenshtein is the same unit-cost edit distance; the
    // banded variant clamps to -1 past the threshold
    "q88_levenshtein" ->
      """SELECT a.n_name AS n1, b.n_name AS n2,
           CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist,
           CAST(CASE WHEN levenshtein(a.n_name, b.n_name) <= 3
             THEN levenshtein(a.n_name, b.n_name) ELSE -1 END AS INT)
             AS dist3
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey""",

    "q86_normalize" ->
      """WITH prep AS (
           SELECT doc_id, text || ' caf' || decode(from_hex('65CC81'))
             AS text
           FROM documents)
         SELECT doc_id, nfc_normalize(text) AS nfc,
           strip_accents(text) AS bare
         FROM prep""",

    // pivot ≡ conditional aggregation
    "q84_pivot" ->
      """SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END),
             4) AS o_qty_r,
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END),
             4) AS f_qty_r,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n
         FROM lineitem GROUP BY l_returnflag""",

    // unpivot ≡ a UNION ALL per melted column
    "q85_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           round(l_quantity, 4) AS v_r FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount',
           round(l_discount, 4) FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax',
           round(l_tax, 4) FROM lineitem""",

    // native ASOF LEFT JOIN picks the same latest-at-or-before row;
    // the 2-day tolerance nulls the payload post-match, like the
    // engine
    "q83_asof" ->
      """WITH dim AS (
           SELECT event_type, ts AS dim_ts, max(value) AS ref_value
           FROM events WHERE event_id % 37 = 0 GROUP BY event_type, ts)
         SELECT e.event_id, e.event_type,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN round(d.ref_value, 4) END AS ref_r,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN CAST(date_diff('us', d.dim_ts, e.ts) AS DOUBLE)
               / 1000000 END AS gap_s
         FROM events e ASOF LEFT JOIN dim d
           ON e.event_type = d.event_type AND e.ts >= d.dim_ts""",

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

    "q23_knn" ->
      """SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
           WHERE c.vec_id <> q.vec_id)
         WHERE rank <= 5""",

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

    // q24 md5-mode LSH replay: table t's plane p component i is
    // uniform [-1,1) from md5('t<t>:p:i'); candidates = distinct
    // same-(table,bucket) pairs; exact cosine rank over candidates
    // (score desc, id asc — TopKFunctions ordering).
    "q24_knn_lsh" ->
      """WITH pl AS (
           SELECT t, p, i,
             ('0x' || substr(md5('t' || t || ':' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 8) tt(t)
           CROSS JOIN range(0, 6) pp(p)
           CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.t, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.t, pl.p),
         buck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id, t),
         pairs AS (
           SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM buck cb
           JOIN (SELECT * FROM buck WHERE vec_id < 5) qb
             ON cb.bucket = qb.bucket
           WHERE cb.vec_id <> qb.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5""",

    // exact replication of the langid/quality heuristics
    // (TextFunctions.languageId/qualityScore) in DuckDB SQL: stopword
    // intersect scores per language, struct-argmax tie-broken by
    // lexicographically-largest language, blended quality formula
    "q25_langid" ->
      """WITH t AS (
           SELECT text,
             list_filter(string_split(regexp_replace(lower(text),
               '[^\p{L}\p{Nd}'']+', ' ', 'g'), ' '), x -> x <> '') AS toks
           FROM documents
         ), s AS (
           SELECT text, toks,
             CAST(len(list_intersect(toks, ['the','and','of','to','in','is','you','that','it','for','with','was','are','this','have'])) AS DOUBLE) AS s_en,
             CAST(len(list_intersect(toks, ['el','la','de','que','y','en','un','una','los','del','se','las','por','con','para'])) AS DOUBLE) AS s_es,
             CAST(len(list_intersect(toks, ['le','la','de','et','les','des','en','un','du','une','que','est','pour','qui','dans'])) AS DOUBLE) AS s_fr,
             CAST(len(list_intersect(toks, ['der','die','und','das','von','zu','den','mit','ist','des','im','nicht','ein','eine','auf'])) AS DOUBLE) AS s_de,
             CAST((len(string_split(text, '的')) - 1) + (len(string_split(text, '了')) - 1) + (len(string_split(text, '是')) - 1) + (len(string_split(text, '我')) - 1) + (len(string_split(text, '不')) - 1) + (len(string_split(text, '在')) - 1) + (len(string_split(text, '他')) - 1) + (len(string_split(text, '有')) - 1) + (len(string_split(text, '这')) - 1) + (len(string_split(text, '中')) - 1) + (len(string_split(text, '大')) - 1) + (len(string_split(text, '来')) - 1) + (len(string_split(text, '上')) - 1) + (len(string_split(text, '国')) - 1) + (len(string_split(text, '个')) - 1) AS DOUBLE) AS s_zh
           FROM t
         ), lang AS (
           SELECT text, toks,
             CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) <= 0
               THEN 'und'
               ELSE (SELECT l FROM (VALUES ('de', s_de), ('en', s_en),
                 ('es', s_es), ('fr', s_fr), ('zh', s_zh)) AS v(l, sc)
                 ORDER BY sc DESC, l DESC LIMIT 1) END AS lang_id,
             round(
               least(len(toks) / 20.0, 1.0) * 0.3
               + length(regexp_replace(text, '[^\p{L}\s]', '', 'g')) * 1.0
                 / greatest(length(text), 1.0) * 0.3
               + len(list_distinct(toks)) * 1.0
                 / greatest(len(toks), 1.0) * 0.2
               + least(5.0 * len(list_intersect(toks, ['the','and','of','to','in','is','you','that','it','for','with','was','are','this','have','el','la','de','que','y','en','un','una','los','del','se','las','por','con','para','le','et','les','des','du','une','est','pour','qui','dans','der','die','und','das','von','zu','den','mit','ist','im','nicht','ein','eine','auf','的','了','是','我','不','在','他','有','这','中','大','来','上','国','个'])) * 1.0
                   / greatest(len(toks), 1.0), 1.0) * 0.2, 6) AS quality
           FROM s
         )
         SELECT lang_id, count(*) AS n, avg(round(quality, 2)) AS avg_q
         FROM lang GROUP BY lang_id""",

    "q44_deserialize_csv" ->
      """SELECT o_orderkey AS k, o_orderstatus AS st,
           o_totalprice AS tp FROM orders""",

    "q42_tokenize_chain" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(list_transform(
               list_filter(regexp_split_to_array(text, '\s+'),
                 x -> x <> ''), x -> lower(x)),
               x -> x NOT IN ('the', 'and', 'of')
                 AND length(x) >= 3 AND length(x) <= 12) AS toks
           FROM documents)
         SELECT doc_id,
           array_to_string(list_transform(
             generate_series(1, greatest(len(toks) - 1, 0)),
             i -> toks[i] || ' ' || toks[i + 1]), '|') AS joined
         FROM t""",

    "q43_set_ops" ->
      """WITH keys AS (SELECT user_id, event_type FROM events),
         big AS (SELECT * FROM keys WHERE user_id < 300),
         clicky AS (SELECT * FROM keys
                    WHERE event_type IN ('click', 'view'))
         SELECT user_id, event_type, 'i' AS src FROM
           (SELECT * FROM big INTERSECT SELECT * FROM clicky)
         UNION ALL
         SELECT user_id, event_type, 'd' AS src FROM
           (SELECT * FROM big EXCEPT SELECT * FROM clicky)""",

    "q41_rolling_regression" ->
      """WITH xs AS (
           SELECT user_id, event_id, ts, value,
             epoch_us(ts) / 1000000.0 AS xsec
           FROM events)
         SELECT user_id, event_id,
           round(regr_slope(value, xsec) OVER w, 6) + 0.0 AS slope_r,
           round(0.6 * value + 0.4 * lag(value) OVER w2, 6) + 0.0 AS sm_r
         FROM xs
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY user_id ORDER BY ts)""",

    "q40_try_cast" ->
      """WITH t AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
               THEN 'x' || CAST(o_orderkey AS VARCHAR)
               ELSE CAST(o_orderkey AS VARCHAR) END AS s
           FROM orders)
         SELECT o_orderkey, CAST(s AS BIGINT) AS v FROM t
         WHERE TRY_CAST(s AS BIGINT) IS NOT NULL""",

    "q45_sql_mdt" ->
      """SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))),
             ',') AS ls,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n,
           CAST(greatest(max(l_orderkey), 100) AS BIGINT) AS mx,
           least(round(min(l_extendedprice), 2), 1e9) AS mn
         FROM lineitem GROUP BY l_returnflag""",

    "q46_agg_limit" ->
      """WITH a AS (
           SELECT l_returnflag, l_linestatus,
             sum(l_extendedprice) AS total
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
           round(total, 2) + 0.0 AS total_r
         FROM a
         QUALIFY row_number() OVER (PARTITION BY l_returnflag
           ORDER BY total DESC) = 1""",

    "q47_scrape" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS key_txt,
           '/o/' || CAST(o_orderkey AS VARCHAR) AS href,
           o_orderstatus AS label
         FROM orders""",

    "q48_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM toks),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",

    // split thresholds: 0.8·2^32 = 0xcccccccc, 0.9·2^32 = 0xe6666666
    "q100_split" ->
      """SELECT o_orderkey,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                  < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
         FROM orders""",

    // weighted reservoir: the md5 hex → uniform → u^(1/w) ranking is
    // pure arithmetic both engines replay digit-for-digit (sort-key
    // gaps are orders of magnitude above pow's ulp differences)
    "q99_sample_weighted" ->
      """WITH h AS (
           SELECT o_orderkey, o_orderpriority, o_totalprice,
             substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS hx
           FROM orders WHERE o_totalprice > 0),
         u AS (
           SELECT *, (list_sum(list_transform(range(1, 9),
               i -> (strpos('0123456789abcdef',
                 substr(hx, CAST(i AS INT), 1)) - 1)
                 * power(16, 8 - i))) + 1) / 4294967297.0 AS u
           FROM h),
         r AS (
           SELECT o_orderkey, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY pow(u, 1.0 / o_totalprice) DESC, hx) AS rk
           FROM u)
         SELECT o_orderkey, o_orderpriority FROM r WHERE rk <= 20""",

    // bloom prefilter + exact verify ≡ the exact overlap — same
    // oracle as q48
    "q98_decontaminate_bloom" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM toks),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",

    "q49_repetition" ->
      """WITH prep AS (
           SELECT doc_id,
             replace(text, ' the ', chr(10) || '#... the ') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), x -> x <> '')
               AS lines,
             list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> '') AS tk
           FROM prep),
         grams AS (
           SELECT doc_id, len(tk) - 1 AS total,
             unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS g
           FROM base WHERE len(tk) >= 3),
         counts AS (
           SELECT doc_id, total, g, count(*) AS c
           FROM grams GROUP BY doc_id, total, g),
         top AS (
           SELECT doc_id, max(CAST(c AS DOUBLE) / total) AS tbf
           FROM counts GROUP BY doc_id)
         SELECT b.doc_id,
           round(CASE WHEN len(b.lines) <= 1 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
               / len(b.lines) END, 6) AS dlf,
           round(CASE WHEN len(b.tk) <= 1 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(b.tk)) AS DOUBLE)
               / len(b.tk) END, 6) AS dwf,
           round(coalesce(top.tbf, 0.0), 6) AS tbf,
           round(CAST(len(regexp_extract_all(b.text, '#|\.{3}|…'))
               AS DOUBLE) / greatest(len(b.tk), 1), 6) AS sr
         FROM base b LEFT JOIN top ON b.doc_id = top.doc_id""",

    "q50_dedup_lines" ->
      """WITH prep AS (
           SELECT doc_id,
             'NAV HOME SEARCH' || chr(10) || text || chr(10) ||
               'copyright footer ' || CAST(doc_id % 5 AS VARCHAR) AS text
           FROM documents),
         split AS (
           SELECT doc_id, string_split(text, chr(10)) AS ls FROM prep),
         lines AS (
           SELECT doc_id, e.i AS idx, e.l AS line FROM (
             SELECT doc_id, unnest(list_transform(
               range(1, len(ls) + 1),
               i -> struct_pack(i := i, l := trim(ls[i])))) AS e
             FROM split)
           WHERE e.l <> ''),
         banned AS (
           SELECT line FROM lines GROUP BY line
           HAVING count(*) >= 4),
         flagged AS (
           SELECT l.doc_id, l.idx, l.line,
             (b.line IS NOT NULL) AS ban
           FROM lines l LEFT JOIN banned b USING (line)),
         keeps AS (
           SELECT doc_id,
             array_to_string(list(line ORDER BY idx), chr(10)) AS clean
           FROM flagged WHERE NOT ban GROUP BY doc_id),
         rem AS (
           SELECT doc_id,
             CAST(sum(CASE WHEN ban THEN 1 ELSE 0 END) AS BIGINT) AS rm
           FROM flagged GROUP BY doc_id)
         SELECT p.doc_id, coalesce(k.clean, '') AS text,
           coalesce(r.rm, 0) AS removed
         FROM prep p
         LEFT JOIN keeps k ON p.doc_id = k.doc_id
         LEFT JOIN rem r ON p.doc_id = r.doc_id""",

    // thresholds: 0.2*2^32 = 0x33333333, 0.05*2^32 = 0x0ccccccc,
    // 1.0 -> 'g' (keep all: sorts after every hex digit)
    "q51_sample" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem
         WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
             CAST(l_linenumber AS VARCHAR)), 1, 8) <
           CASE l_returnflag WHEN 'A' THEN '33333333'
             WHEN 'N' THEN '0ccccccc' ELSE 'g' END""",

    // the stateless md5 predicate is batch-boundary-invariant, so
    // the drained stream equals the batch stratified filter
    "q200_stream_sample" ->
      """SELECT doc_id, source FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           CASE source WHEN 'src0' THEN 'g'
             WHEN 'src1' THEN '80000000' ELSE '19999999' END""",

    // streaming mixture ≡ batch mix arithmetic: leg a (even ids)
    // keeps its 0.5-sampled single pass, leg b (odd ids) passes
    // whole; keys are 'name#epoch#id' exactly as q67
    "q201_stream_mixture" ->
      """SELECT doc_id, 'a' AS mix_source,
           CAST(0 AS INTEGER) AS mix_epoch
         FROM documents
         WHERE doc_id % 2 = 0
           AND substr(md5('a#0#' || CAST(doc_id AS VARCHAR)), 1, 8)
             < '80000000'
         UNION ALL
         SELECT doc_id, 'b', CAST(0 AS INTEGER)
         FROM documents WHERE doc_id % 2 = 1""",

    // q52 verifies pack's partition-invariant aggregates: doc/token/
    // oversize totals recomputed from the source table, and packed_ok
    // — an invariant greedy packing always satisfies — asserted TRUE.
    // A packing bug (overfilled sequence, split oversize doc, missing
    // doc) flips one of the Spark-side values and fails the compare.
    "q52_pack" ->
      """WITH t AS (
           SELECT CASE WHEN text IS NULL THEN NULL
                       WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS toks
           FROM documents)
         SELECT count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN greatest(coalesce(toks, 0), 1) > 512
               THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
           TRUE AS packed_ok
         FROM t""",

    // materialized packing conserves docs/tokens and respects the
    // budget; the invariant booleans must all hold
    "q101_pack_materialized" ->
      """WITH t AS (
           SELECT CASE WHEN text IS NULL THEN NULL
                       WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS toks
           FROM documents)
         SELECT count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           TRUE AS within_budget,
           TRUE AS oversize_singleton,
           TRUE AS tokens_conserved
         FROM t""",

    // quantization: q = round(v / (max|v|/127)) replayed with the
    // same double ops; reconstruction bound holds by construction
    "q102_quantize" ->
      """WITH s AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings)
         SELECT vec_id,
           array_to_string(list_transform(embedding,
             v -> CAST(round(CAST(v AS DOUBLE) / scale) AS BIGINT)),
             ',') AS q_s,
           TRUE AS recon_ok
         FROM s""",

    // chain pagerank: the generated recurrence replay (in-degree ≤ 1
    // → order-deterministic double ops on both sides)
    "q109_pagerank" -> pagerankOracleSql,

    // dangling-mass pagerank ≡ the 10-round recurrence over chain
    // positions with the uniform dangling share (see the gate note)
    "q138_pagerank_dangling" ->
      """WITH RECURSIVE nn AS (
           SELECT CAST(count(*) AS DOUBLE) AS nv FROM orders),
         it AS (
           SELECT 0 AS rnd, pos, CAST(1.0 AS DOUBLE) / nv AS r
           FROM range(0, 10) t(pos), nn
           UNION ALL
           SELECT rnd + 1, pos,
             (1.0 - CAST(0.85 AS DOUBLE)) / nv
               + CAST(0.85 AS DOUBLE) *
                 (COALESCE(prev, CAST(0 AS DOUBLE))
                   + last9 / CAST(10.0 AS DOUBLE))
           FROM (
             SELECT rnd, pos, r,
               lag(r) OVER (ORDER BY pos) AS prev,
               max(CASE WHEN pos = 9 THEN r END) OVER () AS last9
             FROM it) s, nn
           WHERE rnd < 10)
         SELECT CAST(o_orderkey AS BIGINT) AS vertex,
           round(r, 12) AS rank_r
         FROM orders JOIN it
           ON it.rnd = 10 AND it.pos = o_orderkey % 10""",

    // cdc chunking ≡ window fingerprints, boundary filter under the
    // 1/2^5 hex threshold (08000000), start/end slicing
    "q116_chunk_cdc" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         b AS (
           SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) - 1 >= 8 THEN
               list_filter(range(8, len(tk)), i ->
                 substr(md5('0 ' ||
                   array_to_string(tk[i-7:i], ' ')), 1, 8)
                   < '08000000')
             ELSE [] END AS bps
           FROM t),
         s AS (
           SELECT doc_id, tk, n, list_prepend(0, bps) AS starts
           FROM b),
         g AS (
           SELECT doc_id, tk, n, starts,
             unnest(range(1, len(starts) + 1)) AS j
           FROM s)
         SELECT doc_id,
           array_to_string(tk[starts[j]+1 :
             CASE WHEN j + 1 <= len(starts) THEN starts[j+1]
                  ELSE n END], ' ') AS chunk,
           CAST(j - 1 AS BIGINT) AS chunk_index,
           CAST(starts[j] AS BIGINT) AS chunk_offset
         FROM g""",

    // url parts ≡ the same closed-form synthesis, rebuilt per part
    "q115_url_parts" ->
      """SELECT doc_id,
           concat('host', CAST(doc_id % 50 AS VARCHAR), '.example',
             CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END)
             AS host,
           concat('/p/', CAST(doc_id % 7 AS VARCHAR), '/page') AS path,
           'https' AS proto,
           CAST(doc_id % 11 AS VARCHAR) AS qv
         FROM documents""",

    // exact-retention KLL median ≡ the ⌈n/2⌉-th order statistic
    // (inclusive-rank quantile) of each group's sorted values
    "q114_kll_sketch" ->
      """SELECT g, round(arr[CAST(ceil(0.5 * n) AS INT)], 4) AS med_r
         FROM (
           SELECT o_orderkey % 2000 AS g,
             list_sort(list(o_totalprice)) AS arr, count(*) AS n
           FROM orders GROUP BY 1)""",

    // overlap report ≡ q48's grams + distinct counts per side
    "q113_decontaminate_report" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM toks),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         tot AS (
           SELECT doc_id, count(DISTINCT g) AS gt FROM grams
           GROUP BY 1),
         mt AS (
           SELECT grams.doc_id, count(DISTINCT grams.g) AS gm
           FROM grams JOIN bg USING (g) GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(tot.gt, 0) AS BIGINT) AS grams_total,
           CAST(coalesce(mt.gm, 0) AS BIGINT) AS grams_matched,
           round(CASE WHEN coalesce(tot.gt, 0) = 0 THEN 0.0
             ELSE CAST(coalesce(mt.gm, 0) AS DOUBLE) / tot.gt END,
             6) AS overlap_r
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN mt ON d.doc_id = mt.doc_id""",

    // union + cdc windows + exact dedup ≡ min cid per
    // normalized-chunk group (q116's windowing, q14's fingerprint
    // normalization)
    "q119_cdc_chunk_dedup" ->
      """WITH d AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'EDIT HEAD ' || text
           FROM documents),
         t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM d WHERE text IS NOT NULL),
         b AS (
           SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) - 1 >= 8 THEN
               list_filter(range(8, len(tk)), i ->
                 substr(md5('0 ' ||
                   array_to_string(tk[i-7:i], ' ')), 1, 8)
                   < '08000000')
             ELSE [] END AS bps
           FROM t),
         s AS (
           SELECT doc_id, tk, n, list_prepend(0, bps) AS starts
           FROM b),
         g AS (
           SELECT doc_id, tk, n, starts,
             unnest(range(1, len(starts) + 1)) AS j
           FROM s),
         ck AS (
           SELECT CAST(doc_id * 100000 + (j - 1) AS BIGINT) AS cid,
             array_to_string(tk[starts[j]+1 :
               CASE WHEN j + 1 <= len(starts) THEN starts[j+1]
                    ELSE n END], ' ') AS chunk
           FROM g)
         SELECT cid FROM (
           SELECT cid, row_number() OVER (
             PARTITION BY array_to_string(list_filter(string_split(
               lower(regexp_replace(chunk, '[^a-zA-Z0-9'']+', ' ',
                 'g')), ' '), x -> x <> ''), ' ')
             ORDER BY cid) AS rn
           FROM ck) WHERE rn = 1""",

    // the full curation chain replayed stage-for-stage: q15 tokens →
    // BETWEEN filter → q14 dedup window → q48 gram anti-join (bench
    // grams from the RAW corpus sample, matching the recipe's wiring)
    // → q100 split thresholds
    "q120_curation_recipe" ->
      """WITH ta AS (
           SELECT doc_id, text,
             CAST(len(list_filter(string_split(lower(regexp_replace(
               text, '[^a-zA-Z0-9'']+', ' ', 'g')), ' '),
               x -> x <> '')) AS INT) AS n_tokens
           FROM documents),
         fl AS (SELECT * FROM ta WHERE n_tokens BETWEEN 10 AND 2000),
         dd AS (
           SELECT doc_id, text, n_tokens FROM (
             SELECT *, row_number() OVER (
               PARTITION BY array_to_string(list_filter(string_split(
                 lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ',
                   'g')), ' '), x -> x <> ''), ' ')
               ORDER BY doc_id) AS rn
             FROM fl) WHERE rn = 1),
         dt AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM dd),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM dt),
         bt AS (
           SELECT list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents WHERE doc_id % 97 = 0),
         bg AS (
           SELECT DISTINCT unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM bt),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT dd.doc_id, dd.n_tokens,
           CASE WHEN substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)
                  < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
         FROM dd LEFT JOIN hits ON dd.doc_id = hits.doc_id
         WHERE hits.doc_id IS NULL""",

    // mean-pooled vectors ≡ per-position averages reassembled in
    // position order (round-4 absorbs summation-order ulps; the
    // `+ 0.0` on both sides folds IEEE −0.0 into +0.0 — a mean that
    // rounds to zero from below prints `-0` in DuckDB but `0` in
    // Spark, caught at sf0.1). The vector is rendered as one
    // fixed-4-decimal comma-joined STRING on both sides: the
    // driver's checker sorts result rows with pandas, which cannot
    // sort a raw array column (the single red row of r13)
    "q121_vector_pool" ->
      """WITH e AS (
           SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
           FROM embeddings WHERE embedding IS NOT NULL),
         a AS (
           SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m
           FROM e GROUP BY 1, 2),
         p AS (
           SELECT label,
             string_agg(printf('%.4f', round(m, 4) + 0.0), ','
               ORDER BY pos) AS pooled_r
           FROM a GROUP BY 1),
         n AS (
           SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
         SELECT n.label, p.pooled_r, n.n
         FROM n LEFT JOIN p ON n.label IS NOT DISTINCT FROM p.label""",

    // exact-mode theta sketches ≡ the true distinct-set counts
    "q122_theta_overlap" ->
      """WITH o AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'O'),
         f AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'F')
         SELECT
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_o,
           CAST((SELECT count(*) FROM o JOIN f USING (o_custkey))
             AS BIGINT) AS inter,
           CAST((SELECT count(*) FROM o WHERE o_custkey NOT IN
             (SELECT o_custkey FROM f)) AS BIGINT) AS only_o""",

    // sentence segmentation ≡ the same RE2-class regex + trim +
    // drop-empties, offsets = prefix token sums of the sentence
    // tokenization
    "q123_chunk_sentence" ->
      """WITH px AS (
           SELECT doc_id, replace(replace(replace(text,
             'spark', 'spark.'), 'query', 'query?'), 'fast', 'fast!')
             AS text
           FROM documents),
         s AS (
           SELECT doc_id, list_filter(list_transform(
             regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
             x -> x <> '') AS sents
           FROM px WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, sents,
             unnest(range(1, len(sents) + 1)) AS j
           FROM s)
         SELECT doc_id, sents[j] AS chunk,
           CAST(j - 1 AS BIGINT) AS chunk_index,
           CAST(coalesce(list_sum(list_transform(sents[1:j-1],
             x -> len(string_split_regex(x, '\s+')))), 0) AS BIGINT)
             AS chunk_offset
         FROM g""",

    // neighbor-graph coefficient replay: the q126 IVF/mutual CTEs at
    // k=4, then the q131 degree + triangle joins and the identical
    // 2.0·T/(d·(d−1)) arithmetic
    "q132_neighbor_coeff" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 32),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (SELECT vec_id, cell FROM sims WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id),
         k4 AS (
           SELECT query_id, neighbor_id FROM ranked WHERE rank <= 4),
         eg0 AS (
           SELECT a.query_id AS s, a.neighbor_id AS d
           FROM k4 a JOIN k4 b ON a.query_id = b.neighbor_id
             AND a.neighbor_id = b.query_id),
         sym AS (
           SELECT DISTINCT v, n FROM (
             SELECT s AS v, d AS n FROM eg0
             UNION ALL SELECT d, s FROM eg0)
           WHERE v <> n),
         deg AS (SELECT v, count(*) AS dd FROM sym GROUP BY v),
         ce AS (
           SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
           FROM eg0 WHERE s <> d),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM ce e1
           JOIN ce e2 ON e2.a = e1.b
           JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b),
         pv AS (
           SELECT v, count(*) AS t FROM (
             SELECT x AS v FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY v)
         SELECT deg.v AS vertex, CAST(deg.dd AS BIGINT) AS degree,
           CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles,
           round(CASE WHEN deg.dd >= 2
             THEN 2.0 * coalesce(pv.t, 0) / (deg.dd * (deg.dd - 1))
             ELSE 0.0 END, 6) AS coeff_r
         FROM deg LEFT JOIN pv ON pv.v = deg.v""",

    // clustering coefficient replay: q108-style distinct-neighbor
    // degrees + q128-style triangle double-join, composed by the
    // identical 2.0·T/(d·(d−1)) double arithmetic
    "q131_clustering_coeff" ->
      """WITH e AS (
           SELECT CAST(o_orderkey AS BIGINT) AS a,
             CAST(o_orderkey + 1 AS BIGINT) AS b
           FROM orders WHERE o_orderkey % 10 <> 9
           UNION ALL
           SELECT CAST(o_orderkey AS BIGINT),
             CAST(o_orderkey + 2 AS BIGINT)
           FROM orders WHERE o_orderkey % 10 < 8),
         sym AS (
           SELECT DISTINCT v, n FROM (
             SELECT a AS v, b AS n FROM e
             UNION ALL SELECT b, a FROM e)
           WHERE v <> n),
         deg AS (SELECT v, count(*) AS d FROM sym GROUP BY v),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pv AS (
           SELECT v, count(*) AS t FROM (
             SELECT x AS v FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY v)
         SELECT deg.v AS vertex, CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles,
           round(CASE WHEN deg.d >= 2
             THEN 2.0 * coalesce(pv.t, 0) / (deg.d * (deg.d - 1))
             ELSE 0.0 END, 6) AS coeff_r
         FROM deg LEFT JOIN pv ON pv.v = deg.v""",

    // inverse quantile on exact-size groups: count(x <= v)/n
    "q130_kll_rank" ->
      """SELECT o_orderkey % 2000 AS g,
           round(sum(CASE WHEN o_totalprice <= 100000.0
             THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS rank_r
         FROM orders GROUP BY 1""",

    // the persistable index: the exploded q127 fingerprint CTEs
    "q133_winnow_index" ->
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
           FROM g)
         SELECT doc_id, unnest(fps) AS fingerprint FROM f""",

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


    // triangle replay: rebuild the chord graph, enumerate each
    // triangle once as a < b < c via the canonical double-join, then
    // charge all three corners
    "q128_triangles" ->
      """WITH e AS (
           SELECT CAST(o_orderkey AS BIGINT) AS a,
             CAST(o_orderkey + 1 AS BIGINT) AS b
           FROM orders WHERE o_orderkey % 10 <> 9
           UNION ALL
           SELECT CAST(o_orderkey AS BIGINT),
             CAST(o_orderkey + 2 AS BIGINT)
           FROM orders WHERE o_orderkey % 10 < 8),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pv AS (
           SELECT v, count(*) AS t FROM (
             SELECT x AS v FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY v),
         verts AS (
           SELECT DISTINCT v FROM (
             SELECT a AS v FROM e UNION ALL SELECT b FROM e))
         SELECT verts.v AS vertex,
           CAST(coalesce(pv.t, 0) AS BIGINT) AS triangles
         FROM verts LEFT JOIN pv ON pv.v = verts.v""",

    // winnowing replay: token 4-grams → md5-prefix hashes → window-8
    // minima (hex strings compare lexicographically on both engines)
    // → distinct fingerprint set → capped all-pairs candidates →
    // exact set-Jaccard >= 0.5 → min verified partner per doc
    "q127_dedup_winnow" ->
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
         fe AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         stats AS (
           SELECT fp, count(*) AS bc, min(doc_id) AS mn
           FROM fe GROUP BY fp HAVING count(*) >= 2),
         fc AS (
           SELECT fe.doc_id, fe.fp FROM fe
           JOIN stats ON stats.fp = fe.fp AND stats.bc <= 64),
         apairs AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM fc x JOIN fc y
             ON x.fp = y.fp AND x.doc_id > y.doc_id),
         opairs AS (
           SELECT DISTINCT fe.doc_id AS a, s.mn AS b
           FROM fe JOIN stats s ON s.fp = fe.fp AND s.bc > 64
           WHERE fe.doc_id > s.mn),
         cpairs AS (
           SELECT a, b FROM apairs UNION SELECT a, b FROM opairs),
         sizes AS (SELECT doc_id, len(fps) AS nf FROM f),
         inter AS (
           SELECT p.a, p.b,
             len(list_intersect(fa.fps, fb.fps)) AS i
           FROM cpairs p
           JOIN f fa ON fa.doc_id = p.a
           JOIN f fb ON fb.doc_id = p.b),
         ver AS (
           SELECT i.a, min(i.b) AS dup_of
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.a
           JOIN sizes sb ON sb.doc_id = i.b
           WHERE i.i::DOUBLE / (sa.nf + sb.nf - i.i) >= 0.5
           GROUP BY i.a)
         SELECT d.doc_id, v.dup_of
         FROM documents d LEFT JOIN ver v ON v.a = d.doc_id""",

    // the q125 IVF pairs (k=2), mutual-filtered, closed by recursive
    // min-label propagation — min reachable id ≡ the engine's
    // hash-min component label
    "q126_neighbor_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 32),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (SELECT vec_id, cell FROM sims WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id),
         k2 AS (
           SELECT query_id, neighbor_id FROM ranked WHERE rank <= 2),
         eg0 AS (
           SELECT a.query_id AS s, a.neighbor_id AS d
           FROM k2 a JOIN k2 b ON a.query_id = b.neighbor_id
             AND a.neighbor_id = b.query_id),
         eg AS (SELECT s, d FROM eg0 UNION SELECT d, s FROM eg0),
         verts AS (SELECT DISTINCT s AS v FROM eg),
         r AS (
           SELECT v, v AS c FROM verts
           UNION
           SELECT eg.d, r.c FROM r JOIN eg ON eg.s = r.v)
         SELECT v AS vertex, min(c) AS component FROM r GROUP BY v""",

    // the q33 IVF replay with the query side = the full corpus
    // (every vector probes its nProbe nearest of the 32 md5-seeded
    // centroid cells; ranked cosine over same-cell pairs)
    // quantized selfJoin ≡ the q125 IVF chain run on the
    // round(v/scale)·scale reconstructions (q105's formula) for BOTH
    // roles of every vector; centroid VECTORS stay raw (the codebook
    // is index metadata, selected by md5(id) like q125)
    "q139_knn_selfjoin_quantized" ->
      """WITH e0 AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings WHERE embedding IS NOT NULL),
         e AS (
           SELECT vec_id, embedding,
             CAST(list_transform(embedding,
               v -> CAST(round(CAST(v AS DOUBLE) / scale) * scale
                 AS FLOAT)) AS DOUBLE[]) AS dq
           FROM e0),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 32),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.dq,
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (SELECT vec_id, cell FROM sims WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(eq.dq, ec.dq) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 3""",

    // the q129 replay over the crafted hot-primary fixture at cap 2:
    // the per-side split (rc <= cap → full pairing; rc > cap →
    // min-rep) is what the engine implements — a pc-based fallback
    // would return no match for the five 70xxx copies
    "q140_winnow_cross_hotbucket" ->
      """WITH atxt AS (
           SELECT array_to_string(['a' || i for i in range(0, 30)],
               ' ') AS a,
             array_to_string(['z' || i for i in range(0, 80)],
               ' ') AS z),
         refd AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 50
           UNION ALL SELECT 60001, a || ' ' || z FROM atxt
           UNION ALL SELECT 60002, a FROM atxt),
         prim AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id >= 100 AND doc_id < 300
           UNION ALL
           SELECT 70000 + i, a FROM atxt,
             (SELECT unnest(range(1, 6)) AS i)),
         base AS (
           SELECT doc_id, 'p' AS side,
             string_split_regex(trim(text), '\s+') AS toks
           FROM prim WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id, 'r' AS side,
             string_split_regex(trim(text), '\s+') AS toks
           FROM refd WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, side,
             [substr(md5('0 ' || array_to_string(toks[i:i+3], ' ')),
                1, 8)
              for i in range(1, greatest(len(toks) - 3, 1) + 1)] AS gh
           FROM base),
         f AS (
           SELECT doc_id, side,
             list_distinct([list_min(gh[i:i+7])
               for i in range(1, greatest(len(gh) - 7, 1) + 1)]) AS fps
           FROM g),
         pf AS (SELECT doc_id, fps FROM f WHERE side = 'p'),
         rf AS (SELECT doc_id, fps FROM f WHERE side = 'r'),
         pe AS (SELECT doc_id, unnest(fps) AS fp FROM pf),
         re AS (SELECT doc_id AS rid, unnest(fps) AS fp FROM rf),
         meta AS (
           SELECT ps.fp, rs.rc, rs.rmin FROM
             (SELECT DISTINCT fp FROM pe) ps
           JOIN
             (SELECT fp, count(*) AS rc, min(rid) AS rmin
              FROM re GROUP BY fp) rs
           ON ps.fp = rs.fp),
         csmall AS (
           SELECT DISTINCT pe.doc_id AS a, re.rid AS b
           FROM meta m
           JOIN pe ON pe.fp = m.fp
           JOIN re ON re.fp = m.fp
           WHERE m.rc <= 2),
         cover AS (
           SELECT DISTINCT pe.doc_id AS a, m.rmin AS b
           FROM meta m JOIN pe ON pe.fp = m.fp
           WHERE m.rc > 2),
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
         SELECT p.doc_id, v.dup_of
         FROM prim p LEFT JOIN ver v ON v.a = p.doc_id""",

    // cross-type sketch algebra ≡ the true distinct counts: custkey
    // as int64 on one side, as DOUBLE on the other — normalized
    // string identities must agree
    "q141_theta_crosstype" ->
      """WITH o AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'O'),
         f AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'F')
         SELECT
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_o,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS n_f,
           CAST((SELECT count(*) FROM o JOIN f USING (o_custkey))
             AS BIGINT) AS inter""",

    // per-position null-skipping mean + null-adds-nothing sum over
    // the deterministically masked embeddings (DuckDB's avg/sum
    // already skip nulls per group; subscripts are 1-based here vs
    // Spark's 0-based lambda index, hence pos - 1). Position 3's
    // all-null mean renders as the literal 'null' on both sides —
    // string_agg drops SQL NULLs, so the coalesce mirrors
    // array_join's nullReplacement
    "q142_vector_pool_nulls" ->
      """WITH e AS (
           SELECT vec_id, label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
           FROM embeddings WHERE embedding IS NOT NULL),
         m AS (
           SELECT label, pos,
             CASE WHEN pos - 1 = 3 THEN NULL
               WHEN (vec_id + pos - 1) % 7 = 0 THEN NULL
               ELSE CAST(v AS DOUBLE) END AS v
           FROM e),
         a AS (
           SELECT label, pos, avg(v) AS mu,
             coalesce(sum(v), 0.0) AS s
           FROM m GROUP BY 1, 2),
         p AS (
           SELECT label,
             string_agg(coalesce(printf('%.4f', round(mu, 4) + 0.0),
               'null'), ',' ORDER BY pos) AS avg_r,
             string_agg(coalesce(printf('%.4f', round(s, 4) + 0.0),
               'null'), ',' ORDER BY pos) AS sum_r
           FROM a GROUP BY 1),
         n AS (
           SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
         SELECT n.label, p.avg_r, p.sum_r, n.n
         FROM n LEFT JOIN p ON n.label IS NOT DISTINCT FROM p.label""",

    // closed-bound BETWEEN join — the bin bucketing is pure plumbing
    // the oracle need not replay
    "q143_interval_join" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // blocker + measure replay: suffix-6 equality then
    // levenshtein <= 1
    "q144_fuzzy_join" ->
      """WITH m AS (
           SELECT c_custkey + 1000000 AS m_id,
             'X' || substr(c_name, 2) AS m_name
           FROM customer)
         SELECT c.c_custkey, CAST(m.m_id AS BIGINT) AS m_id,
           CAST(levenshtein(c.c_name, m.m_name) AS INT) AS score
         FROM customer c JOIN m
         ON substr(reverse(c.c_name), 1, 6) =
              substr(reverse(m.m_name), 1, 6)
           AND levenshtein(c.c_name, m.m_name) <= 1""",

    // closed-interval overlap, left-outer
    "q145_interval_overlap" ->
      """WITH a AS (
           SELECT event_id, user_id, ts AS s,
             ts + INTERVAL 1 HOUR AS e
           FROM events
           WHERE event_type = 'purchase' AND event_id % 2 = 0),
         b AS (
           SELECT event_id AS wid, user_id, ts AS s,
             ts + INTERVAL 1 HOUR AS e
           FROM events
           WHERE event_type = 'purchase' AND event_id % 2 = 1)
         SELECT a.event_id, CAST(b.wid AS BIGINT) AS overlap_id
         FROM a LEFT JOIN b
         ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e""",

    // blocker + measure pairs, closed over ONE hop — each cluster is
    // a 3-clique (original, first-char mutant, second-char mutant:
    // pairwise levenshtein <= 2 sharing the unique 6-digit suffix),
    // so min over the direct neighborhood IS the component min
    "q147_entity_resolution" ->
      """WITH catalog AS (
           SELECT c_custkey AS rid, c_name AS name FROM customer
           UNION ALL
           SELECT c_custkey + 1000000,
             'X' || substr(c_name, 2) FROM customer
           UNION ALL
           SELECT c_custkey + 2000000,
             substr(c_name, 1, 1) || 'Y' || substr(c_name, 3)
           FROM customer),
         pairs AS (
           SELECT a.rid AS src, b.rid AS dst
           FROM catalog a JOIN catalog b
           ON substr(reverse(a.name), 1, 6) =
                substr(reverse(b.name), 1, 6)
             AND levenshtein(a.name, b.name) <= 2
             AND a.rid < b.rid),
         nb AS (
           SELECT src AS v, dst AS n FROM pairs
           UNION ALL SELECT dst, src FROM pairs)
         SELECT CAST(v AS BIGINT) AS vertex,
           CAST(least(v, min(n)) AS BIGINT) AS component
         FROM nb GROUP BY v""",

    // the stream-stream drain must land on the batch join exactly —
    // the q143 shape over the user_id % 3 slice (the gate bounds
    // its retained state; semantics are scale-invariant)
    "q163_interval_ss" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // the stream-stream overlap drain must equal the batch overlap
    // join (closed bounds both sides)
    "q169_interval_ss_overlap" ->
      """SELECT v.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts AS ls,
                 ts + INTERVAL 1 HOUR AS le
               FROM events
               WHERE event_type = 'view' AND user_id % 3 = 0) v
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON v.user_id = p.user_id AND v.ls <= p.e AND p.s <= v.le""",

    "q170_profile_drift" ->
      driftOracleSql(Seq("value", "user_id"), Seq("event_type"),
        "2024-01-15 00:00:00", 10, 20),

    "q175_profile_drift_approx" ->
      driftApproxOracleSql(Seq("value", "user_id"), Seq("event_type"),
        "2024-01-15 00:00:00", 10, 20),

    // first-20-per-key at-or-after the offset: ts-ordered staging
    // makes the streaming emitted-count selection equal the batch
    // row_number (event_id tiebreak never decides — ts is unique at
    // microsecond precision in the fixture)
    "q168_stream_limit" ->
      """SELECT event_id, event_type FROM (
           SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS rn
           FROM events WHERE ts >= TIMESTAMP '2024-01-10 23:30:00')
         WHERE rn <= 20""",

    // left-outer drain (sentinel rows excluded) must equal the batch
    // LEFT join: unmatched clicks null-padded once the sentinel
    // batches push both watermarks past every real row's horizon
    "q166_interval_ss_left" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         LEFT JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // right outer = the batch side-swap: unmatched windows carry a
    // null click id
    "q173_interval_ss_right" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         RIGHT JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // full outer: unmatched rows of BOTH sides null-pad
    "q174_interval_ss_full" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         FULL JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // streaming LSH near-dedup drained over time-ordered halves with
    // the horizon covering the fixture ≡ the batch md5-minhash band
    // replay (q20's CTE chain): per (band, bucket), every member
    // above the bucket minimum emits one candidate row against it
    "q178_stream_lsh_dedup" ->
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
           SELECT doc_id, band_idx,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys)
         SELECT doc_id, CAST(band_idx AS INT) AS band_idx,
           CAST(rep AS BIGINT) AS dup_of
         FROM cand WHERE doc_id > rep""",

    // streaming drift monitor drained with the horizon-closing
    // sentinel ≡ the q170 PSI formula replayed per day bucket
    // (time_bucket's day origin is midnight-aligned like Spark's
    // epoch-aligned window)
    "q182_stream_drift" ->
      """WITH b AS (
           SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
         bs AS (
           SELECT count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v, min(value) mn, max(value) mx
           FROM b),
         bhv AS (
           SELECT CAST(LEAST(GREATEST(FLOOR(
               (value - bs.mn) / (bs.mx - bs.mn) * 10), 0), 9) AS INT) i,
             count(*) c
           FROM b, bs WHERE value IS NOT NULL GROUP BY 1),
         nbv AS (SELECT sum(c) s FROM bhv),
         topc AS (
           SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS i
           FROM (SELECT event_type v, count(*) c FROM b
                 WHERE event_type IS NOT NULL GROUP BY 1)
           QUALIFY row_number() OVER (ORDER BY c DESC, v ASC) <= 20),
         bcat AS (SELECT count(*) k FROM topc),
         bhe AS (
           SELECT coalesce(t.i, bcat.k) i, count(*) c
           FROM b CROSS JOIN bcat
           LEFT JOIN topc t ON b.event_type = t.v
           WHERE b.event_type IS NOT NULL GROUP BY 1),
         nbe AS (SELECT sum(c) s FROM bhe),
         cur AS (
           SELECT time_bucket(INTERVAL 1 DAY, ts) w, *
           FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
         curs AS (
           SELECT w, count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v
           FROM cur GROUP BY 1),
         chv AS (
           SELECT w, CAST(LEAST(GREATEST(FLOOR(
               (value - bs.mn) / (bs.mx - bs.mn) * 10), 0), 9) AS INT) i,
             count(*) c
           FROM cur, bs WHERE value IS NOT NULL GROUP BY 1, 2),
         che AS (
           SELECT w, coalesce(t.i, bcat.k) i, count(*) c
           FROM cur CROSS JOIN bcat
           LEFT JOIN topc t ON cur.event_type = t.v
           WHERE cur.event_type IS NOT NULL GROUP BY 1, 2),
         psiv AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0)
                  - (coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0))
                  / ((coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0)))) psi
           FROM (SELECT w, sum(c) s FROM chv GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0, 10)) AS i) g
           CROSS JOIN nbv
           LEFT JOIN bhv bh ON bh.i = g.i
           LEFT JOIN chv ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w),
         psie AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5)
                  - (coalesce(bh.c, 0) + 0.5) / (nbe.s + (bcat.k + 1) * 0.5))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5))
                  / ((coalesce(bh.c, 0) + 0.5)
                     / (nbe.s + (bcat.k + 1) * 0.5)))) psi
           FROM (SELECT w, sum(c) s FROM che GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0,
             (SELECT k FROM bcat) + 1)) AS i) g
           CROSS JOIN nbe CROSS JOIN bcat
           LEFT JOIN bhe bh ON bh.i = g.i
           LEFT JOIN che ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w)
         SELECT strftime(c.w, '%Y-%m-%d') AS day, 'value' AS "column",
           bs.n AS n_base, c.n AS n_cur,
           bs.nul_v AS nulls_base, c.nul_v AS nulls_cur,
           round(c.nul_v * 1.0 / c.n - bs.nul_v * 1.0 / bs.n, 6) AS nfd_r,
           round(c.mean_v - bs.mean_v, 6) AS mean_delta_r,
           round(p.psi, 6) AS psi_r
         FROM curs c CROSS JOIN bs LEFT JOIN psiv p ON p.w = c.w
         UNION ALL
         SELECT strftime(c.w, '%Y-%m-%d'), 'event_type',
           bs.n, c.n, bs.nul_e, c.nul_e,
           round(c.nul_e * 1.0 / c.n - bs.nul_e * 1.0 / bs.n, 6),
           CAST(NULL AS DOUBLE),
           round(p.psi, 6)
         FROM curs c CROSS JOIN bs LEFT JOIN psie p ON p.w = c.w""",

    // the approx streaming monitor in the exact regime: same per-day
    // replay as q182 but the value histogram buckets by the
    // BASELINE's exact quantile edges (bucket(v) = |{edges e :
    // v > e}|, q175's convention); event_type is the same exact
    // top-20 (frequent-items retains the full small vocabulary)
    "q186_stream_drift_approx" ->
      """WITH b AS (
           SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
         bs AS (
           SELECT count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v
           FROM b),
         bv AS (
           SELECT CAST(value AS DOUBLE) v FROM b
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         st AS (
           SELECT v, row_number() OVER (ORDER BY v) rn,
             count(*) OVER () n FROM bv),
         ed AS (
           SELECT i.i, min(s.v) AS e
           FROM (SELECT unnest(range(1, 10)) AS i) i
           JOIN st s
             ON CAST(s.rn AS DOUBLE) >= (CAST(i.i AS DOUBLE) / 10) * s.n
           GROUP BY i.i),
         bhv AS (
           SELECT (SELECT count(*) FROM ed WHERE bv.v > ed.e) AS i,
             count(*) c
           FROM bv GROUP BY 1),
         nbv AS (SELECT sum(c) s FROM bhv),
         topc AS (
           SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS i
           FROM (SELECT event_type v, count(*) c FROM b
                 WHERE event_type IS NOT NULL GROUP BY 1)
           QUALIFY row_number() OVER (ORDER BY c DESC, v ASC) <= 20),
         bcat AS (SELECT count(*) k FROM topc),
         bhe AS (
           SELECT coalesce(t.i, bcat.k) i, count(*) c
           FROM b CROSS JOIN bcat
           LEFT JOIN topc t ON b.event_type = t.v
           WHERE b.event_type IS NOT NULL GROUP BY 1),
         nbe AS (SELECT sum(c) s FROM bhe),
         cur AS (
           SELECT time_bucket(INTERVAL 1 DAY, ts) w, *
           FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
         curs AS (
           SELECT w, count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v
           FROM cur GROUP BY 1),
         chv AS (
           SELECT x.w, (SELECT count(*) FROM ed WHERE x.v > ed.e) AS i,
             count(*) c
           FROM (SELECT w, CAST(value AS DOUBLE) v FROM cur
                 WHERE value IS NOT NULL
                   AND NOT isnan(CAST(value AS DOUBLE))) x
           GROUP BY 1, 2),
         che AS (
           SELECT w, coalesce(t.i, bcat.k) i, count(*) c
           FROM cur CROSS JOIN bcat
           LEFT JOIN topc t ON cur.event_type = t.v
           WHERE cur.event_type IS NOT NULL GROUP BY 1, 2),
         psiv AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0)
                  - (coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0))
                  / ((coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0)))) psi
           FROM (SELECT w, sum(c) s FROM chv GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0, 10)) AS i) g
           CROSS JOIN nbv
           LEFT JOIN bhv bh ON bh.i = g.i
           LEFT JOIN chv ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w),
         psie AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5)
                  - (coalesce(bh.c, 0) + 0.5) / (nbe.s + (bcat.k + 1) * 0.5))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5))
                  / ((coalesce(bh.c, 0) + 0.5)
                     / (nbe.s + (bcat.k + 1) * 0.5)))) psi
           FROM (SELECT w, sum(c) s FROM che GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0,
             (SELECT k FROM bcat) + 1)) AS i) g
           CROSS JOIN nbe CROSS JOIN bcat
           LEFT JOIN bhe bh ON bh.i = g.i
           LEFT JOIN che ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w)
         SELECT strftime(c.w, '%Y-%m-%d') AS day, 'value' AS "column",
           bs.n AS n_base, c.n AS n_cur,
           bs.nul_v AS nulls_base, c.nul_v AS nulls_cur,
           round(c.nul_v * 1.0 / c.n - bs.nul_v * 1.0 / bs.n, 6) AS nfd_r,
           round(c.mean_v - bs.mean_v, 6) AS mean_delta_r,
           round(p.psi, 6) AS psi_r
         FROM curs c CROSS JOIN bs LEFT JOIN psiv p ON p.w = c.w
         UNION ALL
         SELECT strftime(c.w, '%Y-%m-%d'), 'event_type',
           bs.n, c.n, bs.nul_e, c.nul_e,
           round(c.nul_e * 1.0 / c.n - bs.nul_e * 1.0 / bs.n, 6),
           CAST(NULL AS DOUBLE),
           round(p.psi, 6)
         FROM curs c CROSS JOIN bs LEFT JOIN psie p ON p.w = c.w""",

    // streaming ngram near-dedup drained over time-ordered halves ≡
    // q34's md5 char-gram band replay with the verify applied per
    // (band, bucket-min) pair
    "q183_stream_ngram_dedup" ->
      """WITH lows AS (
           SELECT doc_id, lower(text) AS t
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, substr(t, i::INT, 5) AS gram
           FROM lows, LATERAL unnest(range(1, length(t) - 3)) u(i)
           WHERE length(t) >= 5
           UNION ALL
           SELECT doc_id, t AS gram FROM lows WHERE length(t) < 5),
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
           SELECT doc_id, band_idx,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         cpb AS (
           SELECT DISTINCT doc_id AS a, band_idx, rep AS b
           FROM cand WHERE doc_id > rep),
         dgrams AS (SELECT DISTINCT doc_id, gram FROM grams),
         gsize AS (
           SELECT doc_id, count(*) AS n FROM dgrams GROUP BY doc_id),
         inter AS (
           SELECT p.a, p.b, count(*) AS i
           FROM (SELECT DISTINCT a, b FROM cpb) p
           JOIN dgrams ga ON ga.doc_id = p.a
           JOIN dgrams gb ON gb.doc_id = p.b AND gb.gram = ga.gram
           GROUP BY p.a, p.b),
         j AS (
           SELECT i.a, i.b, i.i::DOUBLE / (sa.n + sb.n - i.i) AS jc
           FROM inter i
           JOIN gsize sa ON sa.doc_id = i.a
           JOIN gsize sb ON sb.doc_id = i.b)
         SELECT p.a AS doc_id, CAST(p.band_idx AS INT) AS band_idx,
           CAST(p.b AS BIGINT) AS dup_of, round(j.jc, 6) AS jacc
         FROM cpb p JOIN j ON j.a = p.a AND j.b = p.b
         WHERE j.jc >= 0.7""",

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

    // embed via the stub session: pixel (x, y) of the 8×8 fixture is
    // ((seed*1103515245 + x*31 + y*977) >> 8) & 0xffffff (positive
    // operands, so arithmetic >> ≡ the engine's logical >>>), tensor
    // element i is channel i%3 of pixel i//3 (row-major) over 255,
    // and the linear stub maps 2x+1 — double arithmetic on both
    // sides, float-cast once, so the floats match bit-exactly and
    // %.6f of the (exactly widened) float matches on both engines.
    // Serialized to one string per row (house rule — the driver's
    // pandas comparator cannot sort raw array cells).
    "q207_embed_session" ->
      """SELECT doc_id,
           array_to_string(
             [printf('%.6f',
                CAST(2.0 * ((((((doc_id*1103515245
                  + ((i//3)%8)*31 + ((i//3)//8)*977) >> 8) & 16777215)
                  >> (16 - 8*(i%3))) & 255) / 255.0) + 1.0 AS FLOAT))
              for i in range(0, 192)], ',') AS emb_s
         FROM documents""",

    // streaming winnow candidates: arrival order is id-ascending, so
    // each fingerprint bucket's owner is its minimum member — the
    // drained rows are the batch q127 fingerprint chain's
    // member-vs-bucket-min pairs (per colliding fingerprint) that
    // pass the fingerprint-set Jaccard verify
    "q208_stream_winnow_dedup" ->
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
         fe AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         stats AS (
           SELECT fp, min(doc_id) AS mn
           FROM fe GROUP BY fp HAVING count(*) >= 2),
         cand AS (
           SELECT fe.doc_id, fe.fp, s.mn
           FROM fe JOIN stats s ON s.fp = fe.fp
           WHERE fe.doc_id > s.mn),
         ver AS (
           SELECT c.doc_id, c.fp, c.mn,
             len(list_intersect(fa.fps, fb.fps)) AS i,
             len(fa.fps) AS na, len(fb.fps) AS nb
           FROM cand c
           JOIN f fa ON fa.doc_id = c.doc_id
           JOIN f fb ON fb.doc_id = c.mn)
         SELECT doc_id, fp, mn AS dup_of,
           round(i::DOUBLE / (na + nb - i), 6) AS jacc
         FROM ver WHERE i::DOUBLE / (na + nb - i) >= 0.5""",

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

    // ngram streaming candidates (exact Jaccard >= 0.7) reduced to
    // per-doc verdicts and joined onto the corpus
    "q185_stream_ngram_verdicts" ->
      """WITH lows AS (
           SELECT doc_id, lower(text) AS t
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, substr(t, i::INT, 5) AS gram
           FROM lows, LATERAL unnest(range(1, length(t) - 3)) u(i)
           WHERE length(t) >= 5
           UNION ALL
           SELECT doc_id, t AS gram FROM lows WHERE length(t) < 5),
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
           SELECT doc_id, band_idx,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         cpb AS (
           SELECT DISTINCT doc_id AS a, rep AS b
           FROM cand WHERE doc_id > rep),
         dgrams AS (SELECT DISTINCT doc_id, gram FROM grams),
         gsize AS (
           SELECT doc_id, count(*) AS n FROM dgrams GROUP BY doc_id),
         inter AS (
           SELECT p.a, p.b, count(*) AS i
           FROM cpb p
           JOIN dgrams ga ON ga.doc_id = p.a
           JOIN dgrams gb ON gb.doc_id = p.b AND gb.gram = ga.gram
           GROUP BY p.a, p.b),
         j AS (
           SELECT i.a, i.b, i.i::DOUBLE / (sa.n + sb.n - i.i) AS jc
           FROM inter i
           JOIN gsize sa ON sa.doc_id = i.a
           JOIN gsize sb ON sb.doc_id = i.b),
         dup AS (
           SELECT a AS doc_id, min(b) AS dup_of
           FROM j WHERE jc >= 0.7 GROUP BY a)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)""",

    // streaming embedding near-dedup drained over time-ordered halves
    // ≡ the batch md5-plane replay's verified pairs (q22's chain),
    // candidate cosine included at 6dp
    "q179_stream_embedding_dedup" ->
      """WITH pl AS (
           SELECT p, i,
             ('0x' || substr(md5('plane:' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 4) t(p) CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.p),
         buck AS (
           SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id),
         cand AS (
           SELECT vec_id, min(vec_id) OVER (PARTITION BY bucket) AS rep
           FROM buck),
         pairs AS (
           SELECT vec_id AS a, rep AS b FROM cand WHERE vec_id > rep),
         cosv AS (
           SELECT p.a, p.b,
             sum(ea.embedding[u.i]::DOUBLE * eb.embedding[u.i]::DOUBLE) /
             (sqrt(sum(ea.embedding[u.i]::DOUBLE
                     * ea.embedding[u.i]::DOUBLE)) *
              sqrt(sum(eb.embedding[u.i]::DOUBLE
                     * eb.embedding[u.i]::DOUBLE))) AS c
           FROM pairs p
           JOIN e ea ON ea.vec_id = p.a
           JOIN e eb ON eb.vec_id = p.b,
           LATERAL unnest(range(1,
             least(len(ea.embedding), len(eb.embedding)) + 1)) u(i)
           GROUP BY p.a, p.b)
         SELECT a AS vec_id, CAST(b AS BIGINT) AS dup_of,
           round(c, 6) AS cosine
         FROM cosv WHERE c >= 0.15""",

    // q179's verified-candidate chain reduced per doc and joined
    // back onto the corpus (null dup_of = canonical)
    "q188_stream_embedding_verdicts" ->
      """WITH pl AS (
           SELECT p, i,
             ('0x' || substr(md5('plane:' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 4) t(p) CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.p),
         buck AS (
           SELECT vec_id,
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id),
         cand AS (
           SELECT vec_id, min(vec_id) OVER (PARTITION BY bucket) AS rep
           FROM buck),
         pairs AS (
           SELECT vec_id AS a, rep AS b FROM cand WHERE vec_id > rep),
         cosv AS (
           SELECT p.a, p.b,
             sum(ea.embedding[u.i]::DOUBLE * eb.embedding[u.i]::DOUBLE) /
             (sqrt(sum(ea.embedding[u.i]::DOUBLE
                     * ea.embedding[u.i]::DOUBLE)) *
              sqrt(sum(eb.embedding[u.i]::DOUBLE
                     * eb.embedding[u.i]::DOUBLE))) AS c
           FROM pairs p
           JOIN e ea ON ea.vec_id = p.a
           JOIN e eb ON eb.vec_id = p.b,
           LATERAL unnest(range(1,
             least(len(ea.embedding), len(eb.embedding)) + 1)) u(i)
           GROUP BY p.a, p.b),
         dup AS (
           SELECT a AS vec_id, min(b) AS dup_of
           FROM cosv WHERE c >= 0.15 GROUP BY a)
         SELECT v.vec_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM embeddings v LEFT JOIN dup USING (vec_id)""",

    // streaming decontaminate is per-row and stateless, so the
    // drained union over the staged halves ≡ q48's batch oracle
    "q180_stream_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM toks),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",

    // streaming ANN queries are stateless per micro-batch, so the
    // drained union over staged query halves ≡ q24's batch oracle
    "q181_stream_knn" ->
      """WITH pl AS (
           SELECT t, p, i,
             ('0x' || substr(md5('t' || t || ':' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 8) tt(t)
           CROSS JOIN range(0, 6) pp(p)
           CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.t, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.t, pl.p),
         buck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id, t),
         pairs AS (
           SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM buck cb
           JOIN (SELECT * FROM buck WHERE vec_id < 5) qb
             ON cb.bucket = qb.bucket
           WHERE cb.vec_id <> qb.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5""",

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

    // recall@k: |q24's lsh top-k ∩ q23's bruteforce top-k| per
    // query over the exact ground-truth count
    "q192_knn_recall" ->
      """WITH pl AS (
           SELECT t, p, i,
             ('0x' || substr(md5('t' || t || ':' || p || ':' || i), 1, 8))
               ::BIGINT / 4294967296.0 * 2.0 - 1.0 AS u
           FROM range(0, 8) tt(t)
           CROSS JOIN range(0, 6) pp(p)
           CROSS JOIN range(0, 64) s(i)),
         e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         dots AS (
           SELECT e.vec_id, pl.t, pl.p,
             sum(e.embedding[pl.i + 1]::DOUBLE * pl.u) AS dot
           FROM e JOIN pl ON pl.i < len(e.embedding)
           GROUP BY e.vec_id, pl.t, pl.p),
         buck AS (
           SELECT vec_id, t, t || '_' ||
             string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
               ORDER BY p) AS bucket
           FROM dots GROUP BY vec_id, t),
         pairs AS (
           SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
           FROM buck cb
           JOIN (SELECT * FROM buck WHERE vec_id < 5) qb
             ON cb.bucket = qb.bucket
           WHERE cb.vec_id <> qb.vec_id),
         approx AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(
                   CAST(eq.embedding AS DOUBLE[]),
                   CAST(ec.embedding AS DOUBLE[])) DESC,
                   p.neighbor_id) AS rank
             FROM pairs p
             JOIN e eq ON eq.vec_id = p.query_id
             JOIN e ec ON ec.vec_id = p.neighbor_id)
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
         FROM den d LEFT JOIN hits h USING (query_id)""",

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

    // coarse-pruning recall: approx = q33's md5-seeded IVF replay
    // with 8 cells probing only 2, exact = float bruteforce —
    // recall measures the cell-miss loss (fixture 0.0–0.8)
    "q196_recall_ivf" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 8),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (
           SELECT vec_id, cell FROM sims WHERE rn <= 2 AND vec_id < 5),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         approx AS (
           SELECT query_id, neighbor_id FROM (
             SELECT p.query_id, p.neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY list_cosine_similarity(
                   CAST(eq.embedding AS DOUBLE[]),
                   CAST(ec.embedding AS DOUBLE[])) DESC,
                   p.neighbor_id) AS rank
             FROM pairs p
             JOIN e eq ON eq.vec_id = p.query_id
             JOIN e ec ON ec.vec_id = p.neighbor_id)
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
         FROM den d LEFT JOIN hits h USING (query_id)""",

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

    // the resolved config is a plain filter + group-by: context
    // selection, arg substitution, and the import are plumbing the
    // oracle need not replay
    "q164_config_lifecycle" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
         WHERE c_acctbal > 9000 GROUP BY 1""",

    // only the fallback pipeline produces output
    "q165_alter_config" ->
      """SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1""",

    // the server executed the same filter the oracle states
    "q159_server" ->
      """SELECT c_custkey, c_name,
           printf('%.2f', round(c_acctbal, 2) + 0.0) AS bal
         FROM customer WHERE c_acctbal > 9000""",

    // reshuffle is a values no-op: identity oracle
    "q160_reshuffle" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders""",

    // the drained stream must land on the batch join exactly —
    // same oracle as q143
    "q158_interval_stream" ->
      """SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e""",

    // all-pairs levenshtein over the token-SORTED renderings — the
    // blocker needs no replay (see the gate comment)
    "q162_fuzzy_tokensort" ->
      """WITH l AS (
           SELECT p_partkey AS lid,
             array_to_string(list_sort(string_split(p_name, ' ')),
               ' ') AS s
           FROM part WHERE p_partkey % 29 = 0),
         r AS (
           SELECT p_partkey AS rid,
             array_to_string(list_sort(string_split(
               array_to_string(list_reverse(string_split(p_name, ' ')),
                 ' ') || 'x', ' ')), ' ') AS s
           FROM part WHERE p_partkey % 29 = 0
           UNION ALL
           SELECT p_partkey AS rid,
             array_to_string(list_sort(string_split(p_name, ' ')),
               ' ') AS s
           FROM part WHERE p_partkey % 31 = 7)
         SELECT lid, rid, CAST(levenshtein(l.s, r.s) AS INT) AS score
         FROM l, r WHERE levenshtein(l.s, r.s) <= 1""",

    // per-field survivorship over the replayed catalog: components
    // shortcut to rid % 1e6 (each cluster is a 3-clique whose min id
    // is the original custkey — the q147 oracle's own argument), so
    // the oracle is a plain arg_max group-by with the engine's exact
    // comparators (both unique: no tie to break)
    "q157_survivorship" ->
      """WITH catalog AS (
           SELECT c_custkey AS rid, c_name AS name,
             c_mktsegment AS seg, c_acctbal AS bal, 3 AS src,
             1000 + c_custkey AS updated,
             CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE 'P3' END
               AS phone,
             'E3' AS email
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'X' || substr(c_name, 2),
             'M1-' || c_mktsegment, c_acctbal + 10.0, 2,
             2000000 + c_custkey + (c_custkey % 2) * 2000000,
             'P2',
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE 'E2' END
           FROM customer
           UNION ALL
           SELECT c_custkey + 2000000,
             substr(c_name, 1, 1) || 'Y' || substr(c_name, 3),
             'M2-' || c_mktsegment, c_acctbal - 5.0, 1,
             3000000 + c_custkey, NULL, 'E1'
           FROM customer)
         SELECT CAST(rid % 1000000 AS BIGINT) AS component,
           arg_max(name, src * 10000000 + rid) AS name_s,
           arg_max(seg, updated) AS seg_s,
           printf('%.2f', round(max(bal), 2) + 0.0) AS bal_s,
           CAST(arg_max(rid,
             ((CASE WHEN phone IS NOT NULL THEN 1 ELSE 0 END) +
              (CASE WHEN email IS NOT NULL THEN 1 ELSE 0 END))
               * 10000000 + rid) AS BIGINT) AS donor,
           count(*) AS n
         FROM catalog GROUP BY 1""",

    // gram inventory, per-side <=64 caps, distinct candidate pairs,
    // levenshtein verify — the full ngram blocker replay
    "q154_fuzzy_ngram" ->
      """WITH l AS (
           SELECT min(p_partkey) AS lid, p_name AS name
           FROM part GROUP BY p_name),
         r AS (
           SELECT lid + 1000000 AS rid,
             substr(name, 1, length(name) - 1) || 'x' AS name
           FROM l),
         lg AS (
           SELECT lid, unnest(list_distinct(
             [substr(name, i, 3)
              for i in range(1, length(name) - 1)])) AS g
           FROM l),
         rg AS (
           SELECT rid, unnest(list_distinct(
             [substr(name, i, 3)
              for i in range(1, length(name) - 1)])) AS g
           FROM r),
         lok AS (
           SELECT * FROM lg WHERE g IN (
             SELECT g FROM lg GROUP BY g HAVING count(*) <= 64)),
         rok AS (
           SELECT * FROM rg WHERE g IN (
             SELECT g FROM rg GROUP BY g HAVING count(*) <= 64)),
         cand AS (SELECT DISTINCT lid, rid FROM lok JOIN rok USING (g))
         SELECT c.lid, c.rid,
           CAST(levenshtein(a.name, b.name) AS INT) AS score
         FROM cand c
         JOIN l a ON a.lid = c.lid
         JOIN r b ON b.rid = c.rid
         WHERE levenshtein(a.name, b.name) <= 1""",

    // copyfile roundtrip is lossless → identity oracle
    "q155_copyfile" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation""",

    // plain list-intersection Jaccard over every (left, right) pair —
    // the blocked candidate plumbing needs no replay because the
    // gate's maxBucket is unbounded and equal token sets always
    // share a gram, so candidates ⊇ matches by construction
    "q156_fuzzy_token" ->
      """WITH l AS (
           SELECT p_partkey AS lid,
             list_distinct(string_split(p_name, ' ')) AS t
           FROM part WHERE p_partkey % 29 = 0),
         r AS (
           SELECT p_partkey AS rid,
             list_distinct(list_reverse(string_split(p_name, ' '))) AS t
           FROM part WHERE p_partkey % 29 = 0
           UNION ALL
           SELECT p_partkey AS rid,
             list_distinct(string_split(p_name, ' ')) AS t
           FROM part WHERE p_partkey % 31 = 7),
         j AS (
           SELECT lid, rid,
             CAST(len(list_intersect(l.t, r.t)) AS DOUBLE) /
               len(list_distinct(list_concat(l.t, r.t))) AS score
           FROM l, r)
         SELECT lid, rid, CAST(round(score * 10000) AS BIGINT) AS score_m
         FROM j WHERE score >= 0.995""",

    // the fixture endpoint is a pure function of the key
    "q152_http_select" ->
      """SELECT n_nationkey, 'val-' || n_nationkey AS resp
         FROM nation""",

    // create elements + sequence ≡ VALUES + range
    "q149_create_source" ->
      """SELECT CAST(k AS BIGINT) AS k, v FROM (VALUES
           (1, 'alpha'), (2, 'beta'), (3, 'gamma')) t(k, v)
         UNION ALL
         SELECT r AS k, CAST(NULL AS VARCHAR) AS v
         FROM range(10, 19, 2) t2(r)""",

    // __event_time from timestampAttribute ≡ the raw column
    "q150_event_time" ->
      """SELECT event_id, ts AS et FROM events""",

    // streaming first-seen-wins exact dedup keyed on event_type ≡
    // the distinct key set
    "q151_stream_dedup" ->
      """SELECT DISTINCT event_type FROM events""",

    // exact-regime theta estimates over the two winnow fingerprint
    // indexes ≡ the true distinct fingerprint-set counts
    "q148_overlap_estimate" ->
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
         a AS (
           SELECT DISTINCT unnest(fps) AS fp FROM f
           WHERE doc_id % 2 = 0),
         b AS (
           SELECT DISTINCT unnest(fps) AS fp FROM f
           WHERE doc_id % 2 = 1)
         SELECT
           CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM a JOIN b USING (fp))
             AS BIGINT) AS shared""",

    // exact-regime count-min estimates ≡ true per-user event counts
    "q146_cms_freq" ->
      """SELECT user_id, count(*) AS freq
         FROM events WHERE user_id % 7 = 0
         GROUP BY user_id""",

    "q125_knn_selfjoin" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 32),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (SELECT vec_id, cell FROM sims WHERE rn <= 2),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 3""",

    // ANSI distribution ranks replay exactly over the unique order
    "q124_window_rank" ->
      """SELECT event_id, user_id,
           CAST(rank() OVER w AS INT) AS rk,
           CAST(dense_rank() OVER w AS INT) AS drk,
           round(percent_rank() OVER w, 6) AS prk_r,
           round(cume_dist() OVER w, 6) AS cd_r,
           CAST(ntile(4) OVER w AS INT) AS nt
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",

    // bm25 ≡ the same idf/dl/avgdl arithmetic replayed (double
    // literals promote identically; round-4 absorbs ln ulps)
    "q117_bm25" ->
      """WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM d),
         t AS (
           SELECT doc_id,
             unnest(list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '')) AS term
           FROM d),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         dls AS (
           SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf
           GROUP BY 1),
         ad AS (SELECT avg(dl) AS avgdl FROM dls)
         SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
           round(
             ln(1.0 + (nv - CAST(dfr.df AS DOUBLE) + 0.5)
               / (CAST(dfr.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * dls.dl / ad.avgdl)),
             4) AS score_r
         FROM tf JOIN dfr USING (term) JOIN dls USING (doc_id),
           nn, ad""",

    // BM25 retrieval ≡ the q117 per-(doc, term) scores, joined to
    // the distinct query terms, summed per (query, doc), ranked
    // top-5 per query by (score desc, doc asc)
    "q136_bm25_retrieval" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
         q AS (
           SELECT doc_id + 1000000 AS query_id,
             (list_filter(string_split(lower(text), ' '),
               x -> x <> ''))[1:6] AS qtk
           FROM documents WHERE doc_id % 211 = 0),
         qt AS (
           SELECT DISTINCT query_id, unnest(qtk) AS term FROM q),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM d),
         t AS (
           SELECT doc_id,
             unnest(list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '')) AS term
           FROM d),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         dls AS (
           SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf
           GROUP BY 1),
         ad AS (SELECT avg(dl) AS avgdl FROM dls),
         sc AS (
           SELECT tf.doc_id, tf.term,
             ln(1.0 + (nv - CAST(dfr.df AS DOUBLE) + 0.5)
               / (CAST(dfr.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * dls.dl / ad.avgdl)) AS score
           FROM tf JOIN dfr USING (term) JOIN dls USING (doc_id),
             nn, ad),
         agg AS (
           SELECT qt.query_id, sc.doc_id, sum(sc.score) AS score
           FROM sc JOIN qt USING (term) GROUP BY 1, 2),
         rk AS (
           SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rank
           FROM agg)
         SELECT query_id, doc_id, round(score, 4) AS score_r,
           CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 5""",

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

    // csv options roundtrip is lossless -> identity oracle
    "q111_csv_options_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 4) AS price_r
         FROM orders""",

    // smoothed tf-idf ≡ tokenize, count, ln((1+N)/(1+df))+1 — N is
    // the SAMPLE row count (token-less docs included)
    "q110_tfidf" ->
      """WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM d),
         t AS (
           SELECT doc_id,
             unnest(list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '')) AS term
           FROM d),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
           round(CAST(tf.tf AS DOUBLE) *
             (ln((1.0 + nv) / (1.0 + CAST(dfr.df AS DOUBLE))) + 1.0),
             4) AS score_r
         FROM tf JOIN dfr USING (term), nn""",

    // chain degrees: block-of-10 chains — endpoints have one
    // neighbor, interior vertices two
    "q108_degrees" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS vertex,
           CAST(CASE WHEN o_orderkey % 10 IN (0, 9) THEN 1 ELSE 2 END
             AS BIGINT) AS degree
         FROM orders""",

    // chain components: block-of-10 chains have component min
    // floor(v/10)*10
    "q103_components" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS vertex,
           CAST((o_orderkey // 10) * 10 AS BIGINT) AS component
         FROM orders""",

    // avro round trip is lossless -> plain identity oracle
    "q54_avro_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders""",

    // stub:linear onnx session: out = 2*x + 1, elementwise — both
    // engines run the identical IEEE double mul/add
    "q55_onnx_stub" ->
      """SELECT o_orderkey, 2 * o_totalprice + 1 AS score
         FROM orders""",

    // StubCodecs header arithmetic: decode returns the header dims;
    // resize re-headers to the target dims
    "q56_multimodal" ->
      """SELECT doc_id,
           CAST(n_chars % 640 + 1 AS BIGINT) AS width,
           CAST(doc_id % 480 + 1 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           true AS ok,
           CAST(64 AS BIGINT) AS width2,
           CAST(32 AS BIGINT) AS height2
         FROM documents""",

    // stateless per-batch decode: the drained stream equals q56's
    // batch arithmetic
    "q193_stream_multimodal" ->
      """SELECT doc_id,
           CAST(n_chars % 640 + 1 AS BIGINT) AS width,
           CAST(doc_id % 480 + 1 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           true AS ok,
           CAST(64 AS BIGINT) AS width2,
           CAST(32 AS BIGINT) AS height2
         FROM documents""",

    // real-codec roundtrip: the generated PNG's decoded properties
    // are pure doc_id arithmetic (dims), constants (3-channel RGB,
    // png magic), and the resize targets — a hash match proves the
    // JDK encode→decode→rescale→re-encode→decode chain end-to-end
    "q194_multimodal_imageio" ->
      """SELECT doc_id,
           CAST(doc_id % 24 + 4 AS BIGINT) AS width,
           CAST((doc_id * 7) % 16 + 3 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           'png' AS format,
           true AS ok,
           CAST(17 AS BIGINT) AS width2,
           CAST(11 AS BIGINT) AS height2,
           'png' AS format2
         FROM documents""",

    // real frame sampling: sampled count = min(3, frame count), and
    // every sampled frame decodes as an RGB PNG with the source dims
    "q204_multimodal_frames" ->
      """SELECT doc_id,
           CAST(LEAST(3, doc_id % 4 + 2) AS BIGINT) AS n_sampled,
           CAST(doc_id % 16 + 4 AS BIGINT) AS width,
           CAST(doc_id % 8 + 3 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           'png' AS format,
           true AS ok
         FROM documents""",

    // real-audio roundtrip: the generated WAV's decoded container
    // metadata is pure doc_id arithmetic + PCM-16-mono constants
    "q202_multimodal_audio" ->
      """SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(doc_id % 500 + 100 AS BIGINT) AS frames_out,
           CAST(16 AS BIGINT) AS bits,
           'wav' AS format,
           true AS ok
         FROM documents""",

    // stateless per-batch real-codec chain: drained stream equals
    // q194's batch arithmetic
    "q197_stream_multimodal_imageio" ->
      """SELECT doc_id,
           CAST(doc_id % 24 + 4 AS BIGINT) AS width,
           CAST((doc_id * 7) % 16 + 3 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           'png' AS format,
           true AS ok,
           CAST(17 AS BIGINT) AS width2,
           CAST(11 AS BIGINT) AS height2,
           'png' AS format2
         FROM documents""",

    // IVF with external codebook: cell p = position p in the
    // codebookIds list (ascending ids here, so row_number over
    // vec_id reproduces it); corpus assigns to its nearest centroid,
    // queries probe the 6 nearest, candidates rank by cosine with
    // the q24 tie-break
    // md5-seeded auto-fit IVF: centroid p = the corpus vector with
    // the (p+1)-smallest md5(vec_id) — fitIterations defaults to 0
    // in md5 mode, so the engine's auto-derived codebook is exactly
    // this ORDER BY md5 LIMIT 16 selection; assignment/probe/rank
    // replay as in q33c
    "q33_knn_ivf" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         seed AS (
           SELECT vec_id, embedding FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)
           LIMIT 16),
         cents AS (
           SELECT row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)),
                 CAST(vec_id AS VARCHAR)) - 1 AS cell,
             embedding AS cvec
           FROM seed),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (
           SELECT vec_id, cell FROM sims WHERE rn <= 6 AND vec_id < 5),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5""",

    "q33c_knn_ivf_codebook" ->
      """WITH e AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE embedding IS NOT NULL),
         cents AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding AS cvec
           FROM e WHERE vec_id IN (0, 31, 62, 93, 124, 155, 186, 217,
             248, 279, 310, 341, 372, 403, 434, 465)),
         sims AS (
           SELECT e.vec_id, cents.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(cents.cvec AS DOUBLE[])) DESC, cents.cell) AS rn
           FROM e CROSS JOIN cents),
         c_assign AS (SELECT vec_id, cell FROM sims WHERE rn = 1),
         q_assign AS (
           SELECT vec_id, cell FROM sims WHERE rn <= 6 AND vec_id < 5),
         pairs AS (
           SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
           FROM c_assign c JOIN q_assign q ON c.cell = q.cell
           WHERE c.vec_id <> q.vec_id),
         ranked AS (
           SELECT p.query_id, p.neighbor_id,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY list_cosine_similarity(
                 CAST(eq.embedding AS DOUBLE[]),
                 CAST(ec.embedding AS DOUBLE[])) DESC,
                 p.neighbor_id) AS rank
           FROM pairs p
           JOIN e eq ON eq.vec_id = p.query_id
           JOIN e ec ON ec.vec_id = p.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank
         FROM ranked WHERE rank <= 5""",

    // container-file roundtrip is lossless -> identity oracle (q54's
    // twin for the FILE path)
    "q57_avro_files" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders""",

    // partitioned-avro roundtrip: the layout changes, the values
    // must not
    "q63_avro_partitioned" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer""",

    // jdbc roundtrip through embedded Derby is the identity on the
    // selected columns
    "q64_jdbc_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer""",

    // http source: the loopback fixture serves region rows as JSON;
    // source fetch + from_json + unnest must reproduce the table
    "q71_http_source" ->
      "SELECT r_regionkey, r_name FROM region",

    // http transform: per-nation-row enrichment via the fixture's
    // region lookup == a plain join
    "q72_http_transform" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nk, r_name AS region_name
         FROM nation JOIN region ON n_regionkey = r_regionkey""",

    // microbatch: contiguous ranges partition the time axis, so the
    // drained stream equals the seeded table
    "q73_microbatch" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer",

    // text sink line-mode roundtrip: template render + csv re-parse
    // is lossless for these columns
    "q74_text_sink" ->
      "SELECT c_custkey, c_mktsegment, c_name FROM customer",

    // websocket: one JSON frame per nation row through the RFC 6455
    // fixture == the table
    "q75_websocket" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
           CAST(n_regionkey AS BIGINT) AS rk FROM nation""",

    // tfrecord roundtrip is lossless for int64/float32-array/int32;
    // the float array is compared as an element-joined %.6f string so
    // the driver's pandas sort sees only scalars
    "q76_tfrecord" ->
      """SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> printf('%.6f', x)), ',') AS emb_s,
           label FROM embeddings""",

    // range sort: the engine's emitted position (partition order ×
    // within-partition order) must equal the total ORDER BY rank
    "q91_sort_range" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS ok,
           row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
             AS pos
         FROM orders""",

    // streaming-left asof drains to the same result as the batch
    // ASOF LEFT JOIN (q83's oracle, same dimension derivation)
    "q92_asof_stream" ->
      """WITH dim AS (
           SELECT event_type, ts AS dim_ts, max(value) AS ref_value
           FROM events WHERE event_id % 37 = 0 GROUP BY event_type, ts)
         SELECT e.event_id, e.event_type,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN round(d.ref_value, 4) END AS ref_r,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN CAST(date_diff('us', d.dim_ts, e.ts) AS DOUBLE)
               / 1000000 END AS gap_s
         FROM events e ASOF LEFT JOIN dim d
           ON e.event_type = d.event_type AND e.ts >= d.dim_ts""",

    // timestampCombiner: EARLIEST/LATEST ≡ min/max input micros per
    // group; END_OF_WINDOW ≡ window end − 1 ms
    "q104_timestamp_combiner" ->
      """WITH w AS (
           SELECT CAST(floor(floor(epoch_ns(ts) / 1000000000) / 21600)
               * 21600 AS BIGINT) AS win_start,
             event_type, ts
           FROM events)
         SELECT win_start, event_type, count(*) AS n,
           min(epoch_us(ts)) AS earliest_us,
           max(epoch_us(ts)) AS latest_us,
           (win_start + 21600) * 1000000 - 1000 AS eow_us
         FROM w GROUP BY 1, 2""",

    // tokenize → chunk composition ≡ lowercase+filter tokens, then
    // the q97 windowing over the token list (size 32, stride 24)
    "q107_chunk_tokens" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 32 THEN 0
                    ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT)
               END)) AS i
           FROM t)
         SELECT doc_id,
           array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_s,
           CAST(i AS BIGINT) AS chunk_index,
           CAST(i * 24 AS BIGINT) AS chunk_offset
         FROM g""",

    // chunk → rank-join stub embeddings → int8 quantize → cosine
    // top-k: the full chain replayed — chunk ordinals from the q97
    // windowing formula, round(v/scale)*scale reconstruction (float32
    // cast included) from the q102 formula, rank order score desc /
    // id asc like q23
    "q105_chunk_quantized_knn" ->
      """WITH t AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 40 THEN 0
                    ELSE CAST(ceil((len(toks) - 40) / 30.0) AS INT)
               END)) AS i
           FROM t),
         ckr AS (
           SELECT row_number() OVER (ORDER BY doc_id, i) AS rn FROM g),
         er AS (
           SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings),
         corp AS (
           SELECT ckr.rn AS cid,
             CAST(list_transform(er.embedding,
               v -> CAST(round(CAST(v AS DOUBLE) / er.scale) * er.scale
                 AS FLOAT)) AS DOUBLE[]) AS dq
           FROM ckr JOIN er ON ckr.rn = er.rn),
         q AS (
           SELECT vec_id + 1000000 AS cid,
             CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 5)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT q.cid AS query_id, corp.cid AS neighbor_id,
             row_number() OVER (PARTITION BY q.cid
               ORDER BY list_cosine_similarity(q.qe, corp.dq) DESC,
                 corp.cid) AS rank
           FROM corp CROSS JOIN q)
         WHERE rank <= 5""",

    // seeded shuffle permutation ≡ rank by the same md5(seed ‖ key)
    "q106_sort_shuffle" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS ok,
           row_number() OVER (
             ORDER BY md5('42' || CAST(o_orderkey AS VARCHAR))) - 1
             AS pos
         FROM orders""",

    // sliding-window chunking ≡ generate_series over stride offsets
    // + 1-based inclusive list slice (mirrors Spark's slice(toks,
    // i*30+1, 40) == toks[i*30+1 : i*30+40])
    "q97_chunk" ->
      """WITH t AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 40 THEN 0
                    ELSE CAST(ceil((len(toks) - 40) / 30.0) AS INT)
               END)) AS i
           FROM t)
         SELECT doc_id,
           array_to_string(toks[i*30+1 : i*30+40], ' ') AS chunk,
           CAST(i AS BIGINT) AS chunk_index,
           CAST(i * 30 AS BIGINT) AS chunk_offset
         FROM g""",

    // top-k sketch with k = full domain and capacity >= distincts ≡
    // exact frequency counts
    "q96_topk_sketch" ->
      """SELECT event_type AS item, count(*) AS cnt
         FROM events GROUP BY event_type""",

    // zorder: the oracle replays the exact fixed-point scale +
    // bit-interleave the engine computes (one generated formula —
    // see zorderOracleSql) and ranks by it
    "q95_zorder" -> zorderOracleSql,

    // bucketed-table join ≡ plain equi-join on the bucket key
    "q93_bucket_join" ->
      """SELECT o_orderkey, c_mktsegment,
           round(o_totalprice, 4) AS price_r
         FROM orders JOIN customer ON o_custkey = c_custkey""",

    // discovered-values pivot ≡ the same conditional aggregation as
    // the declared-values twin q84
    "q94_pivot_discovered" ->
      """SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END),
             4) AS o_qty_r,
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END),
             4) AS f_qty_r,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n
         FROM lineitem GROUP BY l_returnflag""",

    // keyed lag == LAG window over the same deterministic order
    "q62_stateful" ->
      """SELECT event_id, event_type,
           lag(value, 1) OVER (PARTITION BY event_type
             ORDER BY event_id) AS prev_value,
           lag(event_id, 3) OVER (PARTITION BY event_type
             ORDER BY event_id) AS prev3_id
         FROM events""",

    // reshape [2,3] then flatten: element (r,c) of the matrix is the
    // 1-indexed word (r-1)*3+c; flatten rejoins the slice
    "q61_reshape" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ')[1:6] AS ws
           FROM documents
           WHERE len(string_split(text, ' ')) >= 6)
         SELECT doc_id, ws[2] AS r1c2, ws[6] AS r2c3,
           CAST(2 AS INT) AS n_rows,
           array_to_string(ws, ' ') AS rejoined
         FROM w""",

    // template if/elseif/else == CASE; ?lower_case == lower()
    "q60_template_cond" ->
      """SELECT o_orderkey,
           lower(o_orderstatus) || ':' ||
             CASE WHEN o_totalprice >= 200000 THEN 'big'
                  WHEN o_totalprice >= 100000 THEN 'mid'
                  ELSE 'small' END AS label
         FROM orders""",

    // protobuf roundtrip is lossless for nonzero values -> identity
    "q59_protobuf_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders""",

    // exactly the injected-bad rows (doc_id % 10 == 0) must surface
    // in the .failures collection, payload intact
    "q58_failures" ->
      """SELECT doc_id, 'oops' || CAST(doc_id AS VARCHAR) AS payload
         FROM documents WHERE doc_id % 10 = 0""",

    "q53_pii" ->
      """WITH prep AS (
           SELECT doc_id, text || ' Contact user' ||
             CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at ' ||
             CAST(doc_id % 256 AS VARCHAR) || '.168.0.1 today' AS text
           FROM documents),
         m AS (
           SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g') AS t1
           FROM prep),
         m2 AS (
           SELECT *, regexp_replace(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2
           FROM m)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS BIGINT) AS pii_emails,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS BIGINT) AS pii_ips,
           CAST(len(regexp_extract_all(t2,
             '\+?\d{1,3}[-. ]\d{2,4}[-. ]\d{3,4}')) AS BIGINT)
             AS pii_phones,
           regexp_replace(t2, '\+?\d{1,3}[-. ]\d{2,4}[-. ]\d{3,4}',
             '[PHONE]', 'g') AS text_masked
         FROM m2"""
  )
}
