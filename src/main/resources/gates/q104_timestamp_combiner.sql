-- timestampCombiner: EARLIEST/LATEST ≡ min/max input micros per
-- group; END_OF_WINDOW ≡ window end − 1 ms
WITH w AS (
           SELECT CAST(floor(floor(epoch_ns(ts) / 1000000000) / 21600)
               * 21600 AS BIGINT) AS win_start,
             event_type, ts
           FROM events)
         SELECT win_start, event_type, count(*) AS n,
           min(epoch_us(ts)) AS earliest_us,
           max(epoch_us(ts)) AS latest_us,
           (win_start + 21600) * 1000000 - 1000 AS eow_us
         FROM w GROUP BY 1, 2
