-- ANSI distribution ranks replay exactly over the unique order
SELECT event_id, user_id,
           CAST(rank() OVER w AS INT) AS rk,
           CAST(dense_rank() OVER w AS INT) AS drk,
           round(percent_rank() OVER w, 6) AS prk_r,
           round(cume_dist() OVER w, 6) AS cd_r,
           CAST(ntile(4) OVER w AS INT) AS nt
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
