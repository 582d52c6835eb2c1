SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE l_returnflag WHEN 'A' THEN 0 ELSE 1 END AS src
         FROM lineitem WHERE l_returnflag IN ('A','R')
