-- tokenize → chunk composition ≡ lowercase+filter tokens, then
-- the q97 windowing over the token list (size 32, stride 24)
WITH t AS (
           SELECT doc_id,
             list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id, toks,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= 32 THEN 0
                    ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT)
               END)) AS i
           FROM t)
         SELECT doc_id,
           array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_s,
           CAST(i AS BIGINT) AS chunk_index,
           CAST(i * 24 AS BIGINT) AS chunk_offset
         FROM g
