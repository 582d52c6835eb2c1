-- exact-mode theta sketches ≡ the true distinct-set counts
WITH o AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'O'),
         f AS (
           SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderstatus = 'F')
         SELECT
           CAST((SELECT count(*) FROM o) AS BIGINT) AS n_o,
           CAST((SELECT count(*) FROM o JOIN f USING (o_custkey))
             AS BIGINT) AS inter,
           CAST((SELECT count(*) FROM o WHERE o_custkey NOT IN
             (SELECT o_custkey FROM f)) AS BIGINT) AS only_o
