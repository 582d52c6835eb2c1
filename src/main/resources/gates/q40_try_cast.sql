WITH t AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0
               THEN 'x' || CAST(o_orderkey AS VARCHAR)
               ELSE CAST(o_orderkey AS VARCHAR) END AS s
           FROM orders)
         SELECT o_orderkey, CAST(s AS BIGINT) AS v FROM t
         WHERE TRY_CAST(s AS BIGINT) IS NOT NULL
