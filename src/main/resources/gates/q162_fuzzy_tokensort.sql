-- all-pairs levenshtein over the token-SORTED renderings — the
-- blocker needs no replay (see the gate comment)
WITH l AS (
           SELECT p_partkey AS lid,
             array_to_string(list_sort(string_split(p_name, ' ')),
               ' ') AS s
           FROM part WHERE p_partkey % 29 = 0),
         r AS (
           SELECT p_partkey AS rid,
             array_to_string(list_sort(string_split(
               array_to_string(list_reverse(string_split(p_name, ' ')),
                 ' ') || 'x', ' ')), ' ') AS s
           FROM part WHERE p_partkey % 29 = 0
           UNION ALL
           SELECT p_partkey AS rid,
             array_to_string(list_sort(string_split(p_name, ' ')),
               ' ') AS s
           FROM part WHERE p_partkey % 31 = 7)
         SELECT lid, rid, CAST(levenshtein(l.s, r.s) AS INT) AS score
         FROM l, r WHERE levenshtein(l.s, r.s) <= 1
