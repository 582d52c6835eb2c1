-- streaming ngram near-dedup drained over time-ordered halves ≡
-- q34's md5 char-gram band replay with the verify applied per
-- (band, bucket-min) pair
WITH lows AS (
           SELECT doc_id, lower(text) AS t
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, substr(t, i::INT, 5) AS gram
           FROM lows, LATERAL unnest(range(1, length(t) - 3)) u(i)
           WHERE length(t) >= 5
           UNION ALL
           SELECT doc_id, t AS gram FROM lows WHERE length(t) < 5),
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
           SELECT doc_id, band_idx,
             min(doc_id) OVER (PARTITION BY band_idx, bh) AS rep
           FROM bandkeys),
         cpb AS (
           SELECT DISTINCT doc_id AS a, band_idx, rep AS b
           FROM cand WHERE doc_id > rep),
         dgrams AS (SELECT DISTINCT doc_id, gram FROM grams),
         gsize AS (
           SELECT doc_id, count(*) AS n FROM dgrams GROUP BY doc_id),
         inter AS (
           SELECT p.a, p.b, count(*) AS i
           FROM (SELECT DISTINCT a, b FROM cpb) p
           JOIN dgrams ga ON ga.doc_id = p.a
           JOIN dgrams gb ON gb.doc_id = p.b AND gb.gram = ga.gram
           GROUP BY p.a, p.b),
         j AS (
           SELECT i.a, i.b, i.i::DOUBLE / (sa.n + sb.n - i.i) AS jc
           FROM inter i
           JOIN gsize sa ON sa.doc_id = i.a
           JOIN gsize sb ON sb.doc_id = i.b)
         SELECT p.a AS doc_id, CAST(p.band_idx AS INT) AS band_idx,
           CAST(p.b AS BIGINT) AS dup_of, round(j.jc, 6) AS jacc
         FROM cpb p JOIN j ON j.a = p.a AND j.b = p.b
         WHERE j.jc >= 0.7
