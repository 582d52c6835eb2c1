WITH v1 AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
         v2 AS (
           SELECT o_orderkey,
             CASE WHEN o_totalprice > 150000 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
           FROM orders WHERE o_orderkey < 999999)
         SELECT CASE
             WHEN v1.o_orderkey IS NULL THEN 'only_v2'
             WHEN v2.o_orderkey IS NULL THEN 'only_v1'
             WHEN v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice
              AND v1.o_orderstatus IS NOT DISTINCT FROM v2.o_orderstatus
               THEN 'match'
             ELSE 'difference' END AS result,
           count(*) AS n
         FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
         GROUP BY 1
