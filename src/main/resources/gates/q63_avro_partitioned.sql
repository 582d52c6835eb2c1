-- partitioned-avro roundtrip: the layout changes, the values
-- must not
SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
