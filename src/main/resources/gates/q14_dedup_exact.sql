SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY array_to_string(list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> ''), ' ')
             ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1
