-- q67 mixture replay: one SELECT per epoch leg; fractional legs
-- filter on the engine's exact md5-bucket predicate keyed
-- input#epoch#doc_id (0.5 → 0x80000000, 0.25 → 0x40000000).
WITH web AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src0','src1','src2','src3','src4','src5','src6')),
         code AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src7','src8','src9','src10','src11','src12','src13')),
         wiki AS (SELECT doc_id, source FROM documents
           WHERE source IN ('src14','src15','src16','src17','src18','src19'))
         SELECT doc_id, source, 'web' AS mix_source,
           CAST(0 AS INTEGER) AS mix_epoch FROM web
         UNION ALL
         SELECT doc_id, source, 'web', CAST(1 AS INTEGER) FROM web
         UNION ALL
         SELECT doc_id, source, 'web', CAST(2 AS INTEGER) FROM web
         WHERE substr(md5('web#2#' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '80000000'
         UNION ALL
         SELECT doc_id, source, 'code', CAST(0 AS INTEGER) FROM code
         UNION ALL
         SELECT doc_id, source, 'wiki', CAST(0 AS INTEGER) FROM wiki
         WHERE substr(md5('wiki#0#' || CAST(doc_id AS VARCHAR)), 1, 8)
           < '40000000'
