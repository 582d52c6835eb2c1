-- DuckDB GROUPING(a, b) emits the same subtotal bitmask as
-- Spark's grouping_id()
SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n, round(sum(l_quantity), 4) AS qty_r
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
