WITH xs AS (
           SELECT user_id, event_id, ts, value,
             epoch_us(ts) / 1000000.0 AS xsec
           FROM events)
         SELECT user_id, event_id,
           round(regr_slope(value, xsec) OVER w, 6) + 0.0 AS slope_r,
           round(0.6 * value + 0.4 * lag(value) OVER w2, 6) + 0.0 AS sm_r
         FROM xs
         WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
           w2 AS (PARTITION BY user_id ORDER BY ts)
