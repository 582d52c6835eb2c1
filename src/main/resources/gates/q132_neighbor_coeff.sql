-- neighbor-graph coefficient replay: the q126 IVF/mutual CTEs at
-- k=4, then the q131 degree + triangle joins and the identical
-- 2.0·T/(d·(d−1)) arithmetic
WITH e AS (
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
         FROM deg LEFT JOIN pv ON pv.v = deg.v
