-- stateless per-batch real-codec chain: drained stream equals
-- q194's batch arithmetic
SELECT doc_id,
           CAST(doc_id % 24 + 4 AS BIGINT) AS width,
           CAST((doc_id * 7) % 16 + 3 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           'png' AS format,
           true AS ok,
           CAST(17 AS BIGINT) AS width2,
           CAST(11 AS BIGINT) AS height2,
           'png' AS format2
         FROM documents
