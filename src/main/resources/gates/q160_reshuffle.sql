-- reshuffle is a values no-op: identity oracle
SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
