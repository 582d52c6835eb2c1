-- plain list-intersection Jaccard over every (left, right) pair —
-- the blocked candidate plumbing needs no replay because the
-- gate's maxBucket is unbounded and equal token sets always
-- share a gram, so candidates ⊇ matches by construction
WITH l AS (
           SELECT p_partkey AS lid,
             list_distinct(string_split(p_name, ' ')) AS t
           FROM part WHERE p_partkey % 29 = 0),
         r AS (
           SELECT p_partkey AS rid,
             list_distinct(list_reverse(string_split(p_name, ' '))) AS t
           FROM part WHERE p_partkey % 29 = 0
           UNION ALL
           SELECT p_partkey AS rid,
             list_distinct(string_split(p_name, ' ')) AS t
           FROM part WHERE p_partkey % 31 = 7),
         j AS (
           SELECT lid, rid,
             CAST(len(list_intersect(l.t, r.t)) AS DOUBLE) /
               len(list_distinct(list_concat(l.t, r.t))) AS score
           FROM l, r)
         SELECT lid, rid, CAST(round(score * 10000) AS BIGINT) AS score_m
         FROM j WHERE score >= 0.995
