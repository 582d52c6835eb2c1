-- overlap report ≡ q48's grams + distinct counts per side
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
         tot AS (
           SELECT doc_id, count(DISTINCT g) AS gt FROM grams
           GROUP BY 1),
         mt AS (
           SELECT grams.doc_id, count(DISTINCT grams.g) AS gm
           FROM grams JOIN bg USING (g) GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(tot.gt, 0) AS BIGINT) AS grams_total,
           CAST(coalesce(mt.gm, 0) AS BIGINT) AS grams_matched,
           round(CASE WHEN coalesce(tot.gt, 0) = 0 THEN 0.0
             ELSE CAST(coalesce(mt.gm, 0) AS DOUBLE) / tot.gt END,
             6) AS overlap_r
         FROM documents d
         LEFT JOIN tot ON d.doc_id = tot.doc_id
         LEFT JOIN mt ON d.doc_id = mt.doc_id
