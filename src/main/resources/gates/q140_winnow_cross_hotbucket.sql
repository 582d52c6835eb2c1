-- the q129 replay over the crafted hot-primary fixture at cap 2:
-- the per-side split (rc <= cap → full pairing; rc > cap →
-- min-rep) is what the engine implements — a pc-based fallback
-- would return no match for the five 70xxx copies
WITH atxt AS (
           SELECT array_to_string(['a' || i for i in range(0, 30)],
               ' ') AS a,
             array_to_string(['z' || i for i in range(0, 80)],
               ' ') AS z),
         refd AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 50
           UNION ALL SELECT 60001, a || ' ' || z FROM atxt
           UNION ALL SELECT 60002, a FROM atxt),
         prim AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id >= 100 AND doc_id < 300
           UNION ALL
           SELECT 70000 + i, a FROM atxt,
             (SELECT unnest(range(1, 6)) AS i)),
         base AS (
           SELECT doc_id, 'p' AS side,
             string_split_regex(trim(text), '\s+') AS toks
           FROM prim WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id, 'r' AS side,
             string_split_regex(trim(text), '\s+') AS toks
           FROM refd WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, side,
             [substr(md5('0 ' || array_to_string(toks[i:i+3], ' ')),
                1, 8)
              for i in range(1, greatest(len(toks) - 3, 1) + 1)] AS gh
           FROM base),
         f AS (
           SELECT doc_id, side,
             list_distinct([list_min(gh[i:i+7])
               for i in range(1, greatest(len(gh) - 7, 1) + 1)]) AS fps
           FROM g),
         pf AS (SELECT doc_id, fps FROM f WHERE side = 'p'),
         rf AS (SELECT doc_id, fps FROM f WHERE side = 'r'),
         pe AS (SELECT doc_id, unnest(fps) AS fp FROM pf),
         re AS (SELECT doc_id AS rid, unnest(fps) AS fp FROM rf),
         meta AS (
           SELECT ps.fp, rs.rc, rs.rmin FROM
             (SELECT DISTINCT fp FROM pe) ps
           JOIN
             (SELECT fp, count(*) AS rc, min(rid) AS rmin
              FROM re GROUP BY fp) rs
           ON ps.fp = rs.fp),
         csmall AS (
           SELECT DISTINCT pe.doc_id AS a, re.rid AS b
           FROM meta m
           JOIN pe ON pe.fp = m.fp
           JOIN re ON re.fp = m.fp
           WHERE m.rc <= 2),
         cover AS (
           SELECT DISTINCT pe.doc_id AS a, m.rmin AS b
           FROM meta m JOIN pe ON pe.fp = m.fp
           WHERE m.rc > 2),
         cand AS (
           SELECT a, b FROM csmall UNION SELECT a, b FROM cover),
         inter AS (
           SELECT c.a, c.b,
             len(list_intersect(fa.fps, fb.fps)) AS i,
             len(fa.fps) AS na, len(fb.fps) AS nb
           FROM cand c
           JOIN pf fa ON fa.doc_id = c.a
           JOIN rf fb ON fb.doc_id = c.b),
         ver AS (
           SELECT a, min(b) AS dup_of
           FROM inter
           WHERE i::DOUBLE / (na + nb - i) >= 0.5
           GROUP BY a)
         SELECT p.doc_id, v.dup_of
         FROM prim p LEFT JOIN ver v ON v.a = p.doc_id
