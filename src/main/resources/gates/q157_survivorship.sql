-- per-field survivorship over the replayed catalog: components
-- shortcut to rid % 1e6 (each cluster is a 3-clique whose min id
-- is the original custkey — the q147 oracle's own argument), so
-- the oracle is a plain arg_max group-by with the engine's exact
-- comparators (both unique: no tie to break)
WITH catalog AS (
           SELECT c_custkey AS rid, c_name AS name,
             c_mktsegment AS seg, c_acctbal AS bal, 3 AS src,
             1000 + c_custkey AS updated,
             CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE 'P3' END
               AS phone,
             'E3' AS email
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, 'X' || substr(c_name, 2),
             'M1-' || c_mktsegment, c_acctbal + 10.0, 2,
             2000000 + c_custkey + (c_custkey % 2) * 2000000,
             'P2',
             CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE 'E2' END
           FROM customer
           UNION ALL
           SELECT c_custkey + 2000000,
             substr(c_name, 1, 1) || 'Y' || substr(c_name, 3),
             'M2-' || c_mktsegment, c_acctbal - 5.0, 1,
             3000000 + c_custkey, NULL, 'E1'
           FROM customer)
         SELECT CAST(rid % 1000000 AS BIGINT) AS component,
           arg_max(name, src * 10000000 + rid) AS name_s,
           arg_max(seg, updated) AS seg_s,
           printf('%.2f', round(max(bal), 2) + 0.0) AS bal_s,
           CAST(arg_max(rid,
             ((CASE WHEN phone IS NOT NULL THEN 1 ELSE 0 END) +
              (CASE WHEN email IS NOT NULL THEN 1 ELSE 0 END))
               * 10000000 + rid) AS BIGINT) AS donor,
           count(*) AS n
         FROM catalog GROUP BY 1
