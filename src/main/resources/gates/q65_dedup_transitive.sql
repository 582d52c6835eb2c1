-- q65: the q21 simhash replay, then connected-component minima
-- over the bucket pair graph via a recursive CTE — depth-1
-- min-partner labels would hash-mismatch on the corpus's chains
WITH RECURSIVE toks AS (
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
         pairs AS (
           SELECT DISTINCT doc_id AS a, rep AS b
           FROM cand WHERE doc_id > rep),
         edges AS (
           SELECT a AS s, b AS d FROM pairs
           UNION SELECT b AS s, a AS d FROM pairs),
         reach(x, y) AS (
           SELECT s, d FROM edges
           UNION
           SELECT r.x, e.d FROM reach r JOIN edges e ON e.s = r.y),
         dup AS (
           SELECT x AS doc_id, min(y) AS dup_of
           FROM reach GROUP BY x HAVING min(y) < x)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)
