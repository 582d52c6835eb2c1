SELECT o_orderpriority,
           round(regr_slope(o_totalprice, o_custkey), 6) AS slope_r,
           round(regr_intercept(o_totalprice, o_custkey), 4) AS icept_r,
           round(sqrt(greatest(regr_syy(o_totalprice, o_custkey)
               - regr_slope(o_totalprice, o_custkey) ^ 2
                 * regr_sxx(o_totalprice, o_custkey), 0)
             / regr_count(o_totalprice, o_custkey)), 4) AS rmse_r
         FROM orders GROUP BY o_orderpriority
