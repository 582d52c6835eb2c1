-- template if/elseif/else == CASE; ?lower_case == lower()
SELECT o_orderkey,
           lower(o_orderstatus) || ':' ||
             CASE WHEN o_totalprice >= 200000 THEN 'big'
                  WHEN o_totalprice >= 100000 THEN 'mid'
                  ELSE 'small' END AS label
         FROM orders
