-- span-level dup fractions rebuilt from the literal span STRINGS
-- (the engine compares 64-bit span hashes; identical modulo
-- astronomically unlikely collisions)
WITH prep AS (
           SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text ||
             ' terms of service apply all rights reserved contact us at example dot com for details'
             ELSE text END AS text
           FROM documents),
         toks AS (
           SELECT doc_id, list_filter(
             regexp_split_to_array(text, '[ \t\n\f\r]+'),
             t -> len(t) > 0) AS t
           FROM prep),
         spans AS (
           SELECT doc_id, array_to_string(t[i : i + 7], ' ') AS s
           FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
                 FROM toks WHERE len(t) >= 8)),
         dup AS (
           SELECT s FROM (SELECT DISTINCT s, doc_id FROM spans)
           GROUP BY s HAVING count(*) >= 2),
         cnt AS (
           SELECT sp.doc_id, count(*) AS tot, count(d.s) AS dup
           FROM spans sp LEFT JOIN dup d ON sp.s = d.s
           GROUP BY sp.doc_id)
         SELECT p.doc_id AS doc_id,
           round(coalesce(c.dup * 1.0 / c.tot, 0.0), 6) AS frac_r
         FROM prep p LEFT JOIN cnt c ON p.doc_id = c.doc_id
