-- the stateless md5 predicate is batch-boundary-invariant, so
-- the drained stream equals the batch stratified filter
SELECT doc_id, source FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
           CASE source WHEN 'src0' THEN 'g'
             WHEN 'src1' THEN '80000000' ELSE '19999999' END
