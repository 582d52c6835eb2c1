-- sentence segmentation ≡ the same RE2-class regex + trim +
-- drop-empties, offsets = prefix token sums of the sentence
-- tokenization
WITH px AS (
           SELECT doc_id, replace(replace(replace(text,
             'spark', 'spark.'), 'query', 'query?'), 'fast', 'fast!')
             AS text
           FROM documents),
         s AS (
           SELECT doc_id, list_filter(list_transform(
             regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)),
             x -> x <> '') AS sents
           FROM px WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id, sents,
             unnest(range(1, len(sents) + 1)) AS j
           FROM s)
         SELECT doc_id, sents[j] AS chunk,
           CAST(j - 1 AS BIGINT) AS chunk_index,
           CAST(coalesce(list_sum(list_transform(sents[1:j-1],
             x -> len(string_split_regex(x, '\s+')))), 0) AS BIGINT)
             AS chunk_offset
         FROM g
