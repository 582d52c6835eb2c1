SELECT c_custkey, c_name AS c_name_dec FROM customer
