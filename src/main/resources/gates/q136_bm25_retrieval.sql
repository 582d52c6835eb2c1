-- BM25 retrieval ≡ the q117 per-(doc, term) scores, joined to
-- the distinct query terms, summed per (query, doc), ranked
-- top-5 per query by (score desc, doc asc)
WITH d AS (SELECT doc_id, text FROM documents),
         q AS (
           SELECT doc_id + 1000000 AS query_id,
             (list_filter(string_split(lower(text), ' '),
               x -> x <> ''))[1:6] AS qtk
           FROM documents WHERE doc_id % 211 = 0),
         qt AS (
           SELECT DISTINCT query_id, unnest(qtk) AS term FROM q),
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
         ad AS (SELECT avg(dl) AS avgdl FROM dls),
         sc AS (
           SELECT tf.doc_id, tf.term,
             ln(1.0 + (nv - CAST(dfr.df AS DOUBLE) + 0.5)
               / (CAST(dfr.df AS DOUBLE) + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (0.25 + 0.75 * dls.dl / ad.avgdl)) AS score
           FROM tf JOIN dfr USING (term) JOIN dls USING (doc_id),
             nn, ad),
         agg AS (
           SELECT qt.query_id, sc.doc_id, sum(sc.score) AS score
           FROM sc JOIN qt USING (term) GROUP BY 1, 2),
         rk AS (
           SELECT query_id, doc_id, score, row_number() OVER (
             PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rank
           FROM agg)
         SELECT query_id, doc_id, round(score, 4) AS score_r,
           CAST(rank AS INT) AS rank
         FROM rk WHERE rank <= 5
