-- union + cdc windows + exact dedup ≡ min cid per
-- normalized-chunk group (q116's windowing, q14's fingerprint
-- normalization)
WITH d AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, 'EDIT HEAD ' || text
           FROM documents),
         t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           FROM d WHERE text IS NOT NULL),
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
           FROM s),
         ck AS (
           SELECT CAST(doc_id * 100000 + (j - 1) AS BIGINT) AS cid,
             array_to_string(tk[starts[j]+1 :
               CASE WHEN j + 1 <= len(starts) THEN starts[j+1]
                    ELSE n END], ' ') AS chunk
           FROM g)
         SELECT cid FROM (
           SELECT cid, row_number() OVER (
             PARTITION BY array_to_string(list_filter(string_split(
               lower(regexp_replace(chunk, '[^a-zA-Z0-9'']+', ' ',
                 'g')), ' '), x -> x <> ''), ' ')
             ORDER BY cid) AS rn
           FROM ck) WHERE rn = 1
