-- chunk → rank-join stub embeddings → int8 quantize → cosine
-- top-k: the full chain replayed — chunk ordinals from the q97
-- windowing formula, round(v/scale)*scale reconstruction (float32
-- cast included) from the q102 formula, rank order score desc /
-- id asc like q23
WITH t AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 40 THEN 0
                    ELSE CAST(ceil((len(toks) - 40) / 30.0) AS INT)
               END)) AS i
           FROM t),
         ckr AS (
           SELECT row_number() OVER (ORDER BY doc_id, i) AS rn FROM g),
         er AS (
           SELECT row_number() OVER (ORDER BY vec_id) AS rn, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings),
         corp AS (
           SELECT ckr.rn AS cid,
             CAST(list_transform(er.embedding,
               v -> CAST(round(CAST(v AS DOUBLE) / er.scale) * er.scale
                 AS FLOAT)) AS DOUBLE[]) AS dq
           FROM ckr JOIN er ON ckr.rn = er.rn),
         q AS (
           SELECT vec_id + 1000000 AS cid,
             CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < 5)
         SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT q.cid AS query_id, corp.cid AS neighbor_id,
             row_number() OVER (PARTITION BY q.cid
               ORDER BY list_cosine_similarity(q.qe, corp.dq) DESC,
                 corp.cid) AS rank
           FROM corp CROSS JOIN q)
         WHERE rank <= 5
