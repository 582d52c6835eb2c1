SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
             AS statuses,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag
