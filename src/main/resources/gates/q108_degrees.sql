-- chain degrees: block-of-10 chains — endpoints have one
-- neighbor, interior vertices two
SELECT CAST(o_orderkey AS BIGINT) AS vertex,
           CAST(CASE WHEN o_orderkey % 10 IN (0, 9) THEN 1 ELSE 2 END
             AS BIGINT) AS degree
         FROM orders
