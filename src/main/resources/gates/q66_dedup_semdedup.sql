-- q66 SemDeDup replay: cell p = position p in the codebookIds
-- list (ascending ids, so row_number over vec_id reproduces it);
-- each vector assigns to its max-cosine cell (tie: lowest cell,
-- the engine's stable-sort order); the per-cell rep is the doc
-- LEAST similar to its centroid (tie: min id); members cosine-
-- verify against the rep with the exact engine formula.
WITH e AS (
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
         FROM embeddings em LEFT JOIN dup ON em.vec_id = dup.a
