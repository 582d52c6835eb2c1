SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS revenue,
           l_returnflag || '/' || l_linestatus AS flag_status
         FROM lineitem
         WHERE l_quantity > 45
           AND (l_returnflag IN ('A','R') OR regexp_matches(l_linestatus, '^F'))
           AND l_shipdate < TIMESTAMP '1996-01-01'
