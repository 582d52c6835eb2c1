WITH t AS (
           SELECT user_id, epoch_us(ts) AS u
           FROM events),
         o AS (
           SELECT user_id, u,
             -- Spark session_window merges an event at EXACTLY
             -- start+gap (closed interval): break only beyond the
             -- gap; micros granularity matches the engine exactly
             CASE WHEN lag(u) OVER w IS NULL
                    OR u - lag(u) OVER w > 1800000000
               THEN 1 ELSE 0 END AS brk
           FROM t WINDOW w AS (PARTITION BY user_id ORDER BY u)),
         g AS (
           SELECT user_id, u,
             sum(brk) OVER (PARTITION BY user_id ORDER BY u
               ROWS UNBOUNDED PRECEDING) AS grp
           FROM o)
         SELECT user_id,
           CAST(floor(min(u) / 1000000) AS BIGINT) AS sess_start,
           count(*) AS n
         FROM g GROUP BY user_id, grp
