SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS INT) AS rn,
           lag(value) OVER w AS prev_value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS run3r
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts)
