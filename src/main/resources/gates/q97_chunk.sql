-- sliding-window chunking ≡ generate_series over stride offsets
-- + 1-based inclusive list slice (mirrors Spark's slice(toks,
-- i*30+1, 40) == toks[i*30+1 : i*30+40])
WITH t AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 40 THEN 0
                    ELSE CAST(ceil((len(toks) - 40) / 30.0) AS INT)
               END)) AS i
           FROM t)
         SELECT doc_id,
           array_to_string(toks[i*30+1 : i*30+40], ' ') AS chunk,
           CAST(i AS BIGINT) AS chunk_index,
           CAST(i * 30 AS BIGINT) AS chunk_offset
         FROM g
