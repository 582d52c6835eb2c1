-- blocker + measure replay: suffix-6 equality then
-- levenshtein <= 1
WITH m AS (
           SELECT c_custkey + 1000000 AS m_id,
             'X' || substr(c_name, 2) AS m_name
           FROM customer)
         SELECT c.c_custkey, CAST(m.m_id AS BIGINT) AS m_id,
           CAST(levenshtein(c.c_name, m.m_name) AS INT) AS score
         FROM customer c JOIN m
         ON substr(reverse(c.c_name), 1, 6) =
              substr(reverse(m.m_name), 1, 6)
           AND levenshtein(c.c_name, m.m_name) <= 1
