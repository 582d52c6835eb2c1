-- q52 verifies pack's partition-invariant aggregates: doc/token/
-- oversize totals recomputed from the source table, and packed_ok
-- — an invariant greedy packing always satisfies — asserted TRUE.
-- A packing bug (overfilled sequence, split oversize doc, missing
-- doc) flips one of the Spark-side values and fails the compare.
WITH t AS (
           SELECT CASE WHEN text IS NULL THEN NULL
                       WHEN len(trim(text)) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\s+'))
                  END AS toks
           FROM documents)
         SELECT count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN greatest(coalesce(toks, 0), 1) > 512
               THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
           TRUE AS packed_ok
         FROM t
