SELECT c_custkey, c_acctbal AS bal_rt FROM customer
