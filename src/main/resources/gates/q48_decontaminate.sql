WITH toks AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM toks),
         bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
