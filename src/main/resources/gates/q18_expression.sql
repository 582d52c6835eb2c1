SELECT l_orderkey, l_linenumber,
           round(sqrt(l_quantity) + ln(l_extendedprice)
             + CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END
             + least(l_tax, 0.04), 6) AS math_mix,
           CAST(floor(epoch_us(l_shipdate) / 86400000000.0) AS BIGINT)
             AS ship_epoch_day
         FROM lineitem
