-- range sort: the engine's emitted position (partition order ×
-- within-partition order) must equal the total ORDER BY rank
SELECT CAST(o_orderkey AS BIGINT) AS ok,
           row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1
             AS pos
         FROM orders
