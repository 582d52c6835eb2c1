-- blocker + measure pairs, closed over ONE hop — each cluster is
-- a 3-clique (original, first-char mutant, second-char mutant:
-- pairwise levenshtein <= 2 sharing the unique 6-digit suffix),
-- so min over the direct neighborhood IS the component min
WITH catalog AS (
           SELECT c_custkey AS rid, c_name AS name FROM customer
           UNION ALL
           SELECT c_custkey + 1000000,
             'X' || substr(c_name, 2) FROM customer
           UNION ALL
           SELECT c_custkey + 2000000,
             substr(c_name, 1, 1) || 'Y' || substr(c_name, 3)
           FROM customer),
         pairs AS (
           SELECT a.rid AS src, b.rid AS dst
           FROM catalog a JOIN catalog b
           ON substr(reverse(a.name), 1, 6) =
                substr(reverse(b.name), 1, 6)
             AND levenshtein(a.name, b.name) <= 2
             AND a.rid < b.rid),
         nb AS (
           SELECT src AS v, dst AS n FROM pairs
           UNION ALL SELECT dst, src FROM pairs)
         SELECT CAST(v AS BIGINT) AS vertex,
           CAST(least(v, min(n)) AS BIGINT) AS component
         FROM nb GROUP BY v
