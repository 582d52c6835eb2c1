-- jdbc roundtrip through embedded Derby is the identity on the
-- selected columns
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer
