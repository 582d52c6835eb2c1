WITH t AS (
           SELECT event_type,
             CAST(floor(epoch_ns(ts) / 1000000000) AS BIGINT) AS s
           FROM events),
         w AS (
           SELECT event_type, s,
             unnest([CAST(floor(s / 3600) * 3600 AS BIGINT),
                     CAST(floor(s / 3600) * 3600 - 3600 AS BIGINT)])
               AS win_start
           FROM t)
         SELECT win_start, event_type, count(*) AS n
         FROM w
         WHERE s >= win_start AND s < win_start + 7200
         GROUP BY win_start, event_type
