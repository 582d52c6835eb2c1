-- clustering coefficient replay: q108-style distinct-neighbor
-- degrees + q128-style triangle double-join, composed by the
-- identical 2.0·T/(d·(d−1)) double arithmetic
WITH e AS (
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
         FROM deg LEFT JOIN pv ON pv.v = deg.v
