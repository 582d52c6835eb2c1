-- seeded shuffle permutation ≡ rank by the same md5(seed ‖ key)
SELECT CAST(o_orderkey AS BIGINT) AS ok,
           row_number() OVER (
             ORDER BY md5('42' || CAST(o_orderkey AS VARCHAR))) - 1
             AS pos
         FROM orders
