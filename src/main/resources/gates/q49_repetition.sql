WITH prep AS (
           SELECT doc_id,
             replace(text, ' the ', chr(10) || '#... the ') AS text
           FROM documents),
         base AS (
           SELECT doc_id, text,
             list_filter(string_split(text, chr(10)), x -> x <> '')
               AS lines,
             list_filter(string_split(
               lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
               ' '), x -> x <> '') AS tk
           FROM prep),
         grams AS (
           SELECT doc_id, len(tk) - 1 AS total,
             unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS g
           FROM base WHERE len(tk) >= 3),
         counts AS (
           SELECT doc_id, total, g, count(*) AS c
           FROM grams GROUP BY doc_id, total, g),
         top AS (
           SELECT doc_id, max(CAST(c AS DOUBLE) / total) AS tbf
           FROM counts GROUP BY doc_id)
         SELECT b.doc_id,
           round(CASE WHEN len(b.lines) <= 1 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
               / len(b.lines) END, 6) AS dlf,
           round(CASE WHEN len(b.tk) <= 1 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(b.tk)) AS DOUBLE)
               / len(b.tk) END, 6) AS dwf,
           round(coalesce(top.tbf, 0.0), 6) AS tbf,
           round(CAST(len(regexp_extract_all(b.text, '#|\.{3}|…'))
               AS DOUBLE) / greatest(len(b.tk), 1), 6) AS sr
         FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
