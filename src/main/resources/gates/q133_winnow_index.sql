-- the persistable index: the exploded q127 fingerprint CTEs
WITH base AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE text IS NOT NULL),
         g AS (
           SELECT doc_id,
             [substr(md5('0 ' || array_to_string(toks[i:i+3], ' ')),
                1, 8)
              for i in range(1, greatest(len(toks) - 3, 1) + 1)] AS gh
           FROM base),
         f AS (
           SELECT doc_id,
             list_distinct([list_min(gh[i:i+7])
               for i in range(1, greatest(len(gh) - 7, 1) + 1)]) AS fps
           FROM g)
         SELECT doc_id, unnest(fps) AS fingerprint FROM f
