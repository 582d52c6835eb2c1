-- exact distinct / median / interpolated percentile — DuckDB
-- quantile_cont matches Spark's exact `percentile` interpolation
SELECT l_returnflag,
           count(DISTINCT l_partkey) AS parts,
           round(median(l_quantity), 4) AS med_qty_r,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_r,
           count(DISTINCT CASE WHEN l_quantity > 25 THEN l_partkey END)
             AS hi_parts
         FROM lineitem GROUP BY l_returnflag
