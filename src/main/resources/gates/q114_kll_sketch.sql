-- exact-retention KLL median ≡ the ⌈n/2⌉-th order statistic
-- (inclusive-rank quantile) of each group's sorted values
SELECT g, round(arr[CAST(ceil(0.5 * n) AS INT)], 4) AS med_r
         FROM (
           SELECT o_orderkey % 2000 AS g,
             list_sort(list(o_totalprice)) AS arr, count(*) AS n
           FROM orders GROUP BY 1)
