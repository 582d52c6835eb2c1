-- recall@k: |q24's lsh top-k ∩ q23's bruteforce top-k| per
-- query over the exact ground-truth count
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
         FROM den d LEFT JOIN hits h USING (query_id)
