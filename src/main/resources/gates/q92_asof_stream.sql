-- streaming-left asof drains to the same result as the batch
-- ASOF LEFT JOIN (q83's oracle, same dimension derivation)
WITH dim AS (
           SELECT event_type, ts AS dim_ts, max(value) AS ref_value
           FROM events WHERE event_id % 37 = 0 GROUP BY event_type, ts)
         SELECT e.event_id, e.event_type,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN round(d.ref_value, 4) END AS ref_r,
           CASE WHEN d.dim_ts IS NOT NULL
                 AND date_diff('us', d.dim_ts, e.ts) <= 172800000000
             THEN CAST(date_diff('us', d.dim_ts, e.ts) AS DOUBLE)
               / 1000000 END AS gap_s
         FROM events e ASOF LEFT JOIN dim d
           ON e.event_type = d.event_type AND e.ts >= d.dim_ts
