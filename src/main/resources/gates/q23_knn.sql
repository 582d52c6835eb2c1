SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(
                 CAST(q.embedding AS DOUBLE[]),
                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
           FROM embeddings c
           CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
           WHERE c.vec_id <> q.vec_id)
         WHERE rank <= 5
