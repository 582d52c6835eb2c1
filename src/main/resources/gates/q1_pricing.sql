SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n_rows,
           count(*) FILTER (l_quantity > 40) AS n_big,
           max(l_quantity) AS max_qty,
           min(l_quantity) AS min_qty
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1995-12-01'
         GROUP BY 1, 2
