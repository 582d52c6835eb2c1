-- discovered-values pivot ≡ the same conditional aggregation as
-- the declared-values twin q84
SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END),
             4) AS o_qty_r,
           count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END),
             4) AS f_qty_r,
           count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n
         FROM lineitem GROUP BY l_returnflag
