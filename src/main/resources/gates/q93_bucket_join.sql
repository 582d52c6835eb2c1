-- bucketed-table join ≡ plain equi-join on the bucket key
SELECT o_orderkey, c_mktsegment,
           round(o_totalprice, 4) AS price_r
         FROM orders JOIN customer ON o_custkey = c_custkey
