-- discarding panes: one aggregate row per (micro-batch, window,
-- key) — the batch key replays as the staged ts ranges; an
-- accumulating engine would emit running totals and mismatch.
-- The batches are time-ordered, so the clock a batch leaves is
-- its own max ts: a window ending after it is early, any other
-- closes ON_TIME in that batch (no window straddles a batch)
WITH b AS (
           SELECT CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 1
                       WHEN ts < TIMESTAMP '2024-01-21' THEN 2
                       ELSE 3 END AS batch,
                  CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                    AS win_start,
                  event_type, value, ts
           FROM events),
         c AS (SELECT batch, max(epoch_ms(ts)) AS clock_ms
               FROM b GROUP BY batch)
         SELECT win_start, event_type, count(*) AS n,
           round(sum(value), 4) AS total_r,
           CASE WHEN (win_start + 21600) * 1000 > any_value(clock_ms)
             THEN 'early' ELSE 'onTime' END AS pane
         FROM b JOIN c USING (batch)
         GROUP BY batch, win_start, event_type
