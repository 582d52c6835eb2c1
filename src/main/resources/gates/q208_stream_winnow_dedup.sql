-- streaming winnow candidates: arrival order is id-ascending, so
-- each fingerprint bucket's owner is its minimum member — the
-- drained rows are the batch q127 fingerprint chain's
-- member-vs-bucket-min pairs (per colliding fingerprint) that
-- pass the fingerprint-set Jaccard verify
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
           SELECT fp, min(doc_id) AS mn
           FROM fe GROUP BY fp HAVING count(*) >= 2),
         cand AS (
           SELECT fe.doc_id, fe.fp, s.mn
           FROM fe JOIN stats s ON s.fp = fe.fp
           WHERE fe.doc_id > s.mn),
         ver AS (
           SELECT c.doc_id, c.fp, c.mn,
             len(list_intersect(fa.fps, fb.fps)) AS i,
             len(fa.fps) AS na, len(fb.fps) AS nb
           FROM cand c
           JOIN f fa ON fa.doc_id = c.doc_id
           JOIN f fb ON fb.doc_id = c.mn)
         SELECT doc_id, fp, mn AS dup_of,
           round(i::DOUBLE / (na + nb - i), 6) AS jacc
         FROM ver WHERE i::DOUBLE / (na + nb - i) >= 0.5
