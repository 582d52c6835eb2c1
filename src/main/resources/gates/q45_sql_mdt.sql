SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))),
             ',') AS ls,
           CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n,
           CAST(greatest(max(l_orderkey), 100) AS BIGINT) AS mx,
           least(round(min(l_extendedprice), 2), 1e9) AS mn
         FROM lineitem GROUP BY l_returnflag
