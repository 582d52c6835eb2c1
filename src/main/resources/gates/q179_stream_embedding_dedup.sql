-- streaming embedding near-dedup drained over time-ordered halves
-- ≡ the batch md5-plane replay's verified pairs (q22's chain),
-- candidate cosine included at 6dp
WITH pl AS (
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
         FROM cosv WHERE c >= 0.15
