-- streaming mixture ≡ batch mix arithmetic: leg a (even ids)
-- keeps its 0.5-sampled single pass, leg b (odd ids) passes
-- whole; keys are 'name#epoch#id' exactly as q67
SELECT doc_id, 'a' AS mix_source,
           CAST(0 AS INTEGER) AS mix_epoch
         FROM documents
         WHERE doc_id % 2 = 0
           AND substr(md5('a#0#' || CAST(doc_id AS VARCHAR)), 1, 8)
             < '80000000'
         UNION ALL
         SELECT doc_id, 'b', CAST(0 AS INTEGER)
         FROM documents WHERE doc_id % 2 = 1
