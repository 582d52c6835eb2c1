-- q20/q34 run dedup in hashAlgo: md5 mode, whose every step (gram
-- extraction, one-md5-per-gram Kirsch-Mitzenmacher lane signature
-- `(h1 + p·h2 + p²·h3) mod 2^32` over the digest's 32-bit words,
-- banded bucket keys, bucket-min rep, Jaccard verify) is
-- reproducible in ANSI SQL — the point of the mode: LSH dedup
-- decisions auditable by any engine. The oracles below replay the
-- exact pipeline in DuckDB.
WITH toks0 AS (
           SELECT doc_id, a[i] AS tok, i AS ord
           FROM (SELECT doc_id, regexp_split_to_array(lower(text),
                   '[^\p{L}\p{Nd}'']+') AS a
                 FROM documents WHERE text IS NOT NULL) d,
                LATERAL unnest(range(1, len(a) + 1)) u(i)
           WHERE a[i] <> ''),
         toks AS (
           SELECT doc_id, tok,
             row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos,
             count(*) OVER (PARTITION BY doc_id) AS n
           FROM toks0),
         grams AS (
           SELECT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' '
                 || lead(tok, 2) OVER w AS gram
           FROM toks WHERE n >= 3
           WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
           QUALIFY pos <= n - 2
           UNION ALL
           SELECT d.doc_id, coalesce(s.joined, '') AS gram
           FROM documents d
           LEFT JOIN (SELECT doc_id,
                        string_agg(tok, ' ' ORDER BY pos) AS joined
                      FROM toks GROUP BY doc_id
                      HAVING count(*) < 3) s USING (doc_id)
           WHERE d.text IS NOT NULL
             AND d.doc_id NOT IN (SELECT doc_id FROM toks WHERE n >= 3)),
         gh AS (
           SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(gram), 9, 8))::BIGINT AS h2,
             ('0x' || substr(md5(gram), 17, 8))::BIGINT AS h3
           FROM grams),
         sig AS (
           SELECT doc_id, s,
             min((h1 + s * h2 + s * s * h3) % 4294967296) AS mh
           FROM gh CROSS JOIN range(0, 32) t(s)
           GROUP BY doc_id, s),
         bandkeys AS (
           SELECT doc_id, s // 4 AS band_idx,
             md5(string_agg(mh::VARCHAR, '|' ORDER BY s)) AS bh
           FROM sig GROUP BY doc_id, s // 4),
         cand AS (
           SELECT doc_id,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         dup AS (
           SELECT doc_id, min(rep) AS dup_of
           FROM cand WHERE doc_id > rep GROUP BY doc_id)
         SELECT d.doc_id, CAST(dup.dup_of AS BIGINT) AS dup_of
         FROM documents d LEFT JOIN dup USING (doc_id)
