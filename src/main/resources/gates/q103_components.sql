-- chain components: block-of-10 chains have component min
-- floor(v/10)*10
SELECT CAST(o_orderkey AS BIGINT) AS vertex,
           CAST((o_orderkey // 10) * 10 AS BIGINT) AS component
         FROM orders
