-- q21 md5-mode simhash replay: bit b of a token's hash is bit
-- (3 - b%4) of hex digit b/4 of md5(token); every token OCCURRENCE
-- votes +1/-1 per bit; sign -> '1'/'0', 64-char string; 4 bands of
-- 16 chars; bucket-min rep. Token-less docs simhash to all-'0'.
WITH toks AS (
           SELECT doc_id, a[i] AS tok
           FROM (SELECT doc_id, regexp_split_to_array(lower(text),
                   '[^\p{L}\p{Nd}'']+') AS a
                 FROM documents WHERE text IS NOT NULL) d,
                LATERAL unnest(range(1, len(a) + 1)) u(i)
           WHERE a[i] <> ''),
         votes AS (
           SELECT doc_id, b,
             sum(CASE WHEN (('0x' || substr(md5(tok), b // 4 + 1, 1))
                   ::INT >> (3 - b % 4)) & 1 = 1
                 THEN 1 ELSE -1 END) AS v
           FROM toks CROSS JOIN range(0, 64) t(b)
           GROUP BY doc_id, b),
         sh AS (
           SELECT d.doc_id,
             coalesce(v.s, repeat('0', 64)) AS sh
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN (SELECT doc_id, string_agg(
                        CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                        ORDER BY b) AS s
                      FROM votes GROUP BY doc_id) v USING (doc_id)),
         bandkeys AS (
           SELECT doc_id, b AS band_idx, substr(sh, b * 16 + 1, 16) AS bh
           FROM sh CROSS JOIN range(0, 4) t(b)),
         cand AS (
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         dup AS (
           SELECT doc_id, min(rep) AS dup_of
           FROM cand WHERE doc_id > rep GROUP BY doc_id)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)
