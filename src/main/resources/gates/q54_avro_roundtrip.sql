-- avro round trip is lossless -> plain identity oracle
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
