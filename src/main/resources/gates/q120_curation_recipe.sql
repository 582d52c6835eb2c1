-- the full curation chain replayed stage-for-stage: q15 tokens →
-- BETWEEN filter → q14 dedup window → q48 gram anti-join (bench
-- grams from the RAW corpus sample, matching the recipe's wiring)
-- → q100 split thresholds
WITH ta AS (
           SELECT doc_id, text,
             CAST(len(list_filter(string_split(lower(regexp_replace(
               text, '[^a-zA-Z0-9'']+', ' ', 'g')), ' '),
               x -> x <> '')) AS INT) AS n_tokens
           FROM documents),
         fl AS (SELECT * FROM ta WHERE n_tokens BETWEEN 10 AND 2000),
         dd AS (
           SELECT doc_id, text, n_tokens FROM (
             SELECT *, row_number() OVER (
               PARTITION BY array_to_string(list_filter(string_split(
                 lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ',
                   'g')), ' '), x -> x <> ''), ' ')
               ORDER BY doc_id) AS rn
             FROM fl) WHERE rn = 1),
         dt AS (
           SELECT doc_id, list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM dd),
         grams AS (
           SELECT doc_id, unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM dt),
         bt AS (
           SELECT list_filter(string_split(
             lower(regexp_replace(text, '[^a-zA-Z0-9'']+', ' ', 'g')),
             ' '), x -> x <> '') AS tk
           FROM documents WHERE doc_id % 97 = 0),
         bg AS (
           SELECT DISTINCT unnest(CASE WHEN len(tk) < 8
             THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 6),
               i -> array_to_string(tk[i:i+7], ' ')) END) AS g
           FROM bt),
         hits AS (SELECT DISTINCT doc_id FROM grams JOIN bg USING (g))
         SELECT dd.doc_id, dd.n_tokens,
           CASE WHEN substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)
                  < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
         FROM dd LEFT JOIN hits ON dd.doc_id = hits.doc_id
         WHERE hits.doc_id IS NULL
