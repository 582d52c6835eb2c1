-- bm25 ≡ the same idf/dl/avgdl arithmetic replayed (double
-- literals promote identically; round-4 absorbs ln ulps)
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
         dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         dls AS (
           SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tf
           GROUP BY 1),
         ad AS (SELECT avg(dl) AS avgdl FROM dls)
         SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
           round(
             ln(1.0 + (nv - CAST(dfr.df AS DOUBLE) + 0.5)
               / (CAST(dfr.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * dls.dl / ad.avgdl)),
             4) AS score_r
         FROM tf JOIN dfr USING (term) JOIN dls USING (doc_id),
           nn, ad
