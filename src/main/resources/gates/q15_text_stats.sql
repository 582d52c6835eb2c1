SELECT doc_id,
           CAST(len(list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '')) AS INT) AS n_tokens,
           md5(text) AS text_md5
         FROM documents
