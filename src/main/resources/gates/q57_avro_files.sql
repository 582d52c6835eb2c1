-- container-file roundtrip is lossless -> identity oracle (q54's
-- twin for the FILE path)
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
