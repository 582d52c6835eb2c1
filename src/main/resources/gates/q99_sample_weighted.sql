-- weighted reservoir: the md5 hex → uniform → u^(1/w) ranking is
-- pure arithmetic both engines replay digit-for-digit (sort-key
-- gaps are orders of magnitude above pow's ulp differences)
WITH h AS (
           SELECT o_orderkey, o_orderpriority, o_totalprice,
             substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS hx
           FROM orders WHERE o_totalprice > 0),
         u AS (
           SELECT *, (list_sum(list_transform(range(1, 9),
               i -> (strpos('0123456789abcdef',
                 substr(hx, CAST(i AS INT), 1)) - 1)
                 * power(16, 8 - i))) + 1) / 4294967297.0 AS u
           FROM h),
         r AS (
           SELECT o_orderkey, o_orderpriority,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY pow(u, 1.0 / o_totalprice) DESC, hx) AS rk
           FROM u)
         SELECT o_orderkey, o_orderpriority FROM r WHERE rk <= 20
