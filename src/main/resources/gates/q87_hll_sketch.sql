-- two-stage sketch merge must equal exact distinct on the
-- bounded (mod 97) domain — coupon-exact at every sf
SELECT l_returnflag,
           count(DISTINCT l_suppkey % 97) AS suppliers
         FROM lineitem GROUP BY l_returnflag
