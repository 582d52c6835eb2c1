WITH t AS (
           SELECT doc_id,
             list_filter(list_transform(
               list_filter(regexp_split_to_array(text, '\s+'),
                 x -> x <> ''), x -> lower(x)),
               x -> x NOT IN ('the', 'and', 'of')
                 AND length(x) >= 3 AND length(x) <= 12) AS toks
           FROM documents)
         SELECT doc_id,
           array_to_string(list_transform(
             generate_series(1, greatest(len(toks) - 1, 0)),
             i -> toks[i] || ' ' || toks[i + 1]), '|') AS joined
         FROM t
