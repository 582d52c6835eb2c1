-- closed-bound BETWEEN join — the bin bucketing is pure plumbing
-- the oracle need not replay
SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events WHERE event_type = 'purchase') p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e
