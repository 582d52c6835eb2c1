-- inverse quantile on exact-size groups: count(x <= v)/n
SELECT o_orderkey % 2000 AS g,
           round(sum(CASE WHEN o_totalprice <= 100000.0
             THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS rank_r
         FROM orders GROUP BY 1
