-- the stream-stream drain must land on the batch join exactly —
-- the q143 shape over the user_id % 3 slice (the gate bounds
-- its retained state; semantics are scale-invariant)
SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e
