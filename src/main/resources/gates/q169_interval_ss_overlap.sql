-- the stream-stream overlap drain must equal the batch overlap
-- join (closed bounds both sides)
SELECT v.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts AS ls,
                 ts + INTERVAL 1 HOUR AS le
               FROM events
               WHERE event_type = 'view' AND user_id % 3 = 0) v
         JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON v.user_id = p.user_id AND v.ls <= p.e AND p.s <= v.le
