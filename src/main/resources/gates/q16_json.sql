SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           count(*) AS n
         FROM events GROUP BY event_type
