SELECT l_returnflag,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue_r,
           round(sum(l_extendedprice * (1 - l_discount))
             FILTER (l_discount > 0.03), 2) AS disc_rev_r,
           round(max(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)
             AS max_charge_r
         FROM lineitem GROUP BY l_returnflag
