-- streaming ANN queries are stateless per micro-batch, so the
-- drained union over staged query halves ≡ q24's batch oracle
WITH pl AS (
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
         FROM ranked WHERE rank <= 5
