-- unpivot ≡ a UNION ALL per melted column
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           round(l_quantity, 4) AS v_r FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount',
           round(l_discount, 4) FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax',
           round(l_tax, 4) FROM lineitem
