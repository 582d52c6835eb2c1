-- create elements + sequence ≡ VALUES + range
SELECT CAST(k AS BIGINT) AS k, v FROM (VALUES
           (1, 'alpha'), (2, 'beta'), (3, 'gamma')) t(k, v)
         UNION ALL
         SELECT r AS k, CAST(NULL AS VARCHAR) AS v
         FROM range(10, 19, 2) t2(r)
