-- mean-pooled vectors ≡ per-position averages reassembled in
-- position order (round-4 absorbs summation-order ulps; the
-- `+ 0.0` on both sides folds IEEE −0.0 into +0.0 — a mean that
-- rounds to zero from below prints `-0` in DuckDB but `0` in
-- Spark, caught at sf0.1). The vector is rendered as one
-- fixed-4-decimal comma-joined STRING on both sides: the
-- driver's checker sorts result rows with pandas, which cannot
-- sort a raw array column (the single red row of r13)
WITH e AS (
           SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
           FROM embeddings WHERE embedding IS NOT NULL),
         a AS (
           SELECT label, pos, avg(CAST(v AS DOUBLE)) AS m
           FROM e GROUP BY 1, 2),
         p AS (
           SELECT label,
             string_agg(printf('%.4f', round(m, 4) + 0.0), ','
               ORDER BY pos) AS pooled_r
           FROM a GROUP BY 1),
         n AS (
           SELECT label, count(*) AS n FROM embeddings GROUP BY 1)
         SELECT n.label, p.pooled_r, n.n
         FROM n LEFT JOIN p ON n.label IS NOT DISTINCT FROM p.label
