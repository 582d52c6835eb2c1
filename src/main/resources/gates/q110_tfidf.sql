-- smoothed tf-idf ≡ tokenize, count, ln((1+N)/(1+df))+1 — N is
-- the SAMPLE row count (token-less docs included)
WITH d AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM d),
         t AS (
           SELECT doc_id,
             unnest(list_filter(list_transform(
               string_split_regex(text, '\s+'), x -> lower(x)),
               x -> x <> '')) AS term
           FROM d),
         tf AS (
           SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
         SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
           round(CAST(tf.tf AS DOUBLE) *
             (ln((1.0 + nv) / (1.0 + CAST(dfr.df AS DOUBLE))) + 1.0),
             4) AS score_r
         FROM tf JOIN dfr USING (term), nn
