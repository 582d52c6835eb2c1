SELECT CAST(floor(floor(epoch_ns(ts) / 1000000000) / 21600)
             * 21600 AS BIGINT) AS win_start,
           event_type, count(*) AS n, round(sum(value), 4) AS total_r
         FROM events GROUP BY 1, 2
