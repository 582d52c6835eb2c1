-- tfrecord roundtrip is lossless for int64/float32-array/int32;
-- the float array is compared as an element-joined %.6f string so
-- the driver's pandas sort sees only scalars
SELECT vec_id,
           array_to_string(list_transform(embedding,
             x -> printf('%.6f', x)), ',') AS emb_s,
           label FROM embeddings
