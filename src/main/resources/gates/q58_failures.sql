-- exactly the injected-bad rows (doc_id % 10 == 0) must surface
-- in the .failures collection, payload intact
SELECT doc_id, 'oops' || CAST(doc_id AS VARCHAR) AS payload
         FROM documents WHERE doc_id % 10 = 0
