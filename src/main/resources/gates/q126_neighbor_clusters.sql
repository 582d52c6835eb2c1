-- the q125 IVF pairs (k=2), mutual-filtered, closed by recursive
-- min-label propagation — min reachable id ≡ the engine's
-- hash-min component label
WITH RECURSIVE e AS (
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
         SELECT v AS vertex, min(c) AS component FROM r GROUP BY v
