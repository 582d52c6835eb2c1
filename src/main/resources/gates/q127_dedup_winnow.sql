-- winnowing replay: token 4-grams → md5-prefix hashes → window-8
-- minima (hex strings compare lexicographically on both engines)
-- → distinct fingerprint set → capped all-pairs candidates →
-- exact set-Jaccard >= 0.5 → min verified partner per doc
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
         fe AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         stats AS (
           SELECT fp, count(*) AS bc, min(doc_id) AS mn
           FROM fe GROUP BY fp HAVING count(*) >= 2),
         fc AS (
           SELECT fe.doc_id, fe.fp FROM fe
           JOIN stats ON stats.fp = fe.fp AND stats.bc <= 64),
         apairs AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM fc x JOIN fc y
             ON x.fp = y.fp AND x.doc_id > y.doc_id),
         opairs AS (
           SELECT DISTINCT fe.doc_id AS a, s.mn AS b
           FROM fe JOIN stats s ON s.fp = fe.fp AND s.bc > 64
           WHERE fe.doc_id > s.mn),
         cpairs AS (
           SELECT a, b FROM apairs UNION SELECT a, b FROM opairs),
         sizes AS (SELECT doc_id, len(fps) AS nf FROM f),
         inter AS (
           SELECT p.a, p.b,
             len(list_intersect(fa.fps, fb.fps)) AS i
           FROM cpairs p
           JOIN f fa ON fa.doc_id = p.a
           JOIN f fb ON fb.doc_id = p.b),
         ver AS (
           SELECT i.a, min(i.b) AS dup_of
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.a
           JOIN sizes sb ON sb.doc_id = i.b
           WHERE i.i::DOUBLE / (sa.nf + sb.nf - i.i) >= 0.5
           GROUP BY i.a)
         SELECT d.doc_id, v.dup_of
         FROM documents d LEFT JOIN ver v ON v.a = d.doc_id
