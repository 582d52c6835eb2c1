-- url parts ≡ the same closed-form synthesis, rebuilt per part
SELECT doc_id,
           concat('host', CAST(doc_id % 50 AS VARCHAR), '.example',
             CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END)
             AS host,
           concat('/p/', CAST(doc_id % 7 AS VARCHAR), '/page') AS path,
           'https' AS proto,
           CAST(doc_id % 11 AS VARCHAR) AS qv
         FROM documents
