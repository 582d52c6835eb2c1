-- protobuf roundtrip is lossless for nonzero values -> identity
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
