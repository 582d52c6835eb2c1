-- gram inventory, per-side <=64 caps, distinct candidate pairs,
-- levenshtein verify — the full ngram blocker replay
WITH l AS (
           SELECT min(p_partkey) AS lid, p_name AS name
           FROM part GROUP BY p_name),
         r AS (
           SELECT lid + 1000000 AS rid,
             substr(name, 1, length(name) - 1) || 'x' AS name
           FROM l),
         lg AS (
           SELECT lid, unnest(list_distinct(
             [substr(name, i, 3)
              for i in range(1, length(name) - 1)])) AS g
           FROM l),
         rg AS (
           SELECT rid, unnest(list_distinct(
             [substr(name, i, 3)
              for i in range(1, length(name) - 1)])) AS g
           FROM r),
         lok AS (
           SELECT * FROM lg WHERE g IN (
             SELECT g FROM lg GROUP BY g HAVING count(*) <= 64)),
         rok AS (
           SELECT * FROM rg WHERE g IN (
             SELECT g FROM rg GROUP BY g HAVING count(*) <= 64)),
         cand AS (SELECT DISTINCT lid, rid FROM lok JOIN rok USING (g))
         SELECT c.lid, c.rid,
           CAST(levenshtein(a.name, b.name) AS INT) AS score
         FROM cand c
         JOIN l a ON a.lid = c.lid
         JOIN r b ON b.rid = c.rid
         WHERE levenshtein(a.name, b.name) <= 1
