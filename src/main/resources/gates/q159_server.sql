-- the server executed the same filter the oracle states
SELECT c_custkey, c_name,
           printf('%.2f', round(c_acctbal, 2) + 0.0) AS bal
         FROM customer WHERE c_acctbal > 9000
