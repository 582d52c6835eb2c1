-- cross-type sketch algebra ≡ the true distinct counts: custkey
-- as int64 on one side, as DOUBLE on the other — normalized
-- string identities must agree
WITH o AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'O'),
         f AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'F')
         SELECT
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_o,
           CAST((SELECT count(*) FROM f) AS BIGINT) AS n_f,
           CAST((SELECT count(*) FROM o JOIN f USING (o_custkey))
             AS BIGINT) AS inter
