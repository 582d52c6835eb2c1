-- coarse-pruning recall: approx = q33's md5-seeded IVF replay
-- with 8 cells probing only 2, exact = float bruteforce —
-- recall measures the cell-miss loss (fixture 0.0–0.8)
WITH e AS (
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
         FROM den d LEFT JOIN hits h USING (query_id)
