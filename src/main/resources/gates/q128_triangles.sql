-- triangle replay: rebuild the chord graph, enumerate each
-- triangle once as a < b < c via the canonical double-join, then
-- charge all three corners
WITH e AS (
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
         FROM verts LEFT JOIN pv ON pv.v = verts.v
