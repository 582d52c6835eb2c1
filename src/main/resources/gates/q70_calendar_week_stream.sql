-- streaming week buckets in America/New_York: the data is all
-- January (EST = fixed UTC-5, no DST transition inside it), so a
-- constant -5h shift reproduces the engine's full-zone-rules
-- bucketing; append mode can only flush watermark-closed buckets,
-- which for a final watermark of max(ts)-1s is every week but the
-- last
WITH t AS (
           SELECT date_trunc('week', ts - INTERVAL 5 HOUR)
                    + INTERVAL 5 HOUR AS w,
                  event_type
           FROM events)
         SELECT CAST(epoch(w) AS BIGINT) AS week_s, event_type,
           count(*) AS n
         FROM t WHERE w < (SELECT max(w) FROM t)
         GROUP BY 1, 2
