-- exact-regime theta estimates over the two winnow fingerprint
-- indexes ≡ the true distinct fingerprint-set counts
WITH base AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id,
             [substr(md5('0 ' || array_to_string(toks[i:i+3], ' ')),
                1, 8)
              for i in range(1, greatest(len(toks) - 3, 1) + 1)] AS gh
           FROM base),
         f AS (
           SELECT doc_id,
             list_distinct([list_min(gh[i:i+7])
               for i in range(1, greatest(len(gh) - 7, 1) + 1)]) AS fps
           FROM g),
         a AS (
           SELECT DISTINCT unnest(fps) AS fp FROM f
           WHERE doc_id % 2 = 0),
         b AS (
           SELECT DISTINCT unnest(fps) AS fp FROM f
           WHERE doc_id % 2 = 1)
         SELECT
           CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM a JOIN b USING (fp))
             AS BIGINT) AS shared
