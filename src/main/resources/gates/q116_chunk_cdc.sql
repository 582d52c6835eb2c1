-- cdc chunking ≡ window fingerprints, boundary filter under the
-- 1/2^5 hex threshold (08000000), start/end slicing
WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM documents WHERE text IS NOT NULL),
         b AS (
           SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) - 1 >= 8 THEN
               list_filter(range(8, len(tk)), i ->
                 substr(md5('0 ' ||
                   array_to_string(tk[i-7:i], ' ')), 1, 8)
                   < '08000000')
             ELSE [] END AS bps
           FROM t),
         s AS (
           SELECT doc_id, tk, n, list_prepend(0, bps) AS starts
           FROM b),
         g AS (
           SELECT doc_id, tk, n, starts,
             unnest(range(1, len(starts) + 1)) AS j
           FROM s)
         SELECT doc_id,
           array_to_string(tk[starts[j]+1 :
             CASE WHEN j + 1 <= len(starts) THEN starts[j+1]
                  ELSE n END], ' ') AS chunk,
           CAST(j - 1 AS BIGINT) AS chunk_index,
           CAST(starts[j] AS BIGINT) AS chunk_offset
         FROM g
