-- csv options roundtrip is lossless -> identity oracle
SELECT o_orderkey, o_orderstatus,
           round(o_totalprice, 4) AS price_r
         FROM orders
