SELECT c_custkey AS entity_key, c_name AS entity_name,
             'c' AS kind FROM customer
         UNION ALL
         SELECT s_suppkey AS entity_key, s_name AS entity_name,
             's' AS kind FROM supplier
