-- stateless per-batch decode: the drained stream equals q56's
-- batch arithmetic
SELECT doc_id,
           CAST(n_chars % 640 + 1 AS BIGINT) AS width,
           CAST(doc_id % 480 + 1 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           true AS ok,
           CAST(64 AS BIGINT) AS width2,
           CAST(32 AS BIGINT) AS height2
         FROM documents
