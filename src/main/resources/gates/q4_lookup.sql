SELECT o.o_orderkey, c.c_name,
           round(o.o_totalprice * 2, 2) AS total2
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
