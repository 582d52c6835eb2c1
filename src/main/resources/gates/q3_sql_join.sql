SELECT n.n_name, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total_price
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE o.o_orderstatus = 'F'
         GROUP BY n.n_name
