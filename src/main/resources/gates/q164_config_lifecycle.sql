-- the resolved config is a plain filter + group-by: context
-- selection, arg substitution, and the import are plumbing the
-- oracle need not replay
SELECT c_nationkey, count(*) AS n FROM customer
         WHERE c_acctbal > 9000 GROUP BY 1
