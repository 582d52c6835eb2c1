-- microbatch: contiguous ranges partition the time axis, so the
-- drained stream equals the seeded table
SELECT c_custkey, c_name, c_acctbal FROM customer
