-- per-position null-skipping mean + null-adds-nothing sum over
-- the deterministically masked embeddings (DuckDB's avg/sum
-- already skip nulls per group; subscripts are 1-based here vs
-- Spark's 0-based lambda index, hence pos - 1). Position 3's
-- all-null mean renders as the literal 'null' on both sides —
-- string_agg drops SQL NULLs, so the coalesce mirrors
-- array_join's nullReplacement
WITH e AS (
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
         FROM n LEFT JOIN p ON n.label IS NOT DISTINCT FROM p.label
