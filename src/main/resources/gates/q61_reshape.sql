-- reshape [2,3] then flatten: element (r,c) of the matrix is the
-- 1-indexed word (r-1)*3+c; flatten rejoins the slice
WITH w AS (
           SELECT doc_id, string_split(text, ' ')[1:6] AS ws
           FROM documents
           WHERE len(string_split(text, ' ')) >= 6)
         SELECT doc_id, ws[2] AS r1c2, ws[6] AS r2c3,
           CAST(2 AS INT) AS n_rows,
           array_to_string(ws, ' ') AS rejoined
         FROM w
