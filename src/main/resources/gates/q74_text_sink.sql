-- text sink line-mode roundtrip: template render + csv re-parse
-- is lossless for these columns
SELECT c_custkey, c_mktsegment, c_name FROM customer
