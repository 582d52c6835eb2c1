WITH a AS (
           SELECT l_returnflag, l_linestatus,
             sum(l_extendedprice) AS total
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus,
           round(total, 2) + 0.0 AS total_r
         FROM a
         QUALIFY row_number() OVER (PARTITION BY l_returnflag
           ORDER BY total DESC) = 1
