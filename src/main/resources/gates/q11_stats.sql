SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_samp_r,
           round(stddev_pop(l_quantity), 4) AS sd_pop_r,
           round(var_samp(l_quantity), 4) AS v_samp_r,
           round(sum(l_quantity * l_extendedprice) / sum(l_extendedprice), 4) AS wavg_r
         FROM lineitem GROUP BY l_returnflag
