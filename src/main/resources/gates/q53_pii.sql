WITH prep AS (
           SELECT doc_id, text || ' Contact user' ||
             CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' at ' ||
             CAST(doc_id % 256 AS VARCHAR) || '.168.0.1 today' AS text
           FROM documents),
         m AS (
           SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g') AS t1
           FROM prep),
         m2 AS (
           SELECT *, regexp_replace(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2
           FROM m)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS BIGINT) AS pii_emails,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS BIGINT) AS pii_ips,
           CAST(len(regexp_extract_all(t2,
             '\+?\d{1,3}[-. ]\d{2,4}[-. ]\d{3,4}')) AS BIGINT)
             AS pii_phones,
           regexp_replace(t2, '\+?\d{1,3}[-. ]\d{2,4}[-. ]\d{3,4}',
             '[PHONE]', 'g') AS text_masked
         FROM m2
