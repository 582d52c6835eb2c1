-- DuckDB levenshtein is the same unit-cost edit distance; the
-- banded variant clamps to -1 past the threshold
SELECT a.n_name AS n1, b.n_name AS n2,
           CAST(levenshtein(a.n_name, b.n_name) AS INT) AS dist,
           CAST(CASE WHEN levenshtein(a.n_name, b.n_name) <= 3
             THEN levenshtein(a.n_name, b.n_name) ELSE -1 END AS INT)
             AS dist3
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
