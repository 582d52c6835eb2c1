-- windowed quantile_cont interpolates like Spark's exact
-- percentile; count:11 = 10 preceding + current
SELECT event_id, user_id,
           round(median(value) OVER w, 4) AS med_r,
           round(quantile_cont(value, 0.9) OVER w, 4) AS p90_r
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)
