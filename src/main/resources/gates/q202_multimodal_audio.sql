-- real-audio roundtrip: the generated WAV's decoded container
-- metadata is pure doc_id arithmetic + PCM-16-mono constants
SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(doc_id % 500 + 100 AS BIGINT) AS frames_out,
           CAST(16 AS BIGINT) AS bits,
           'wav' AS format,
           true AS ok
         FROM documents
