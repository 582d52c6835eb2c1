-- closed-interval overlap, left-outer
WITH a AS (
           SELECT event_id, user_id, ts AS s,
             ts + INTERVAL 1 HOUR AS e
           FROM events
           WHERE event_type = 'purchase' AND event_id % 2 = 0),
         b AS (
           SELECT event_id AS wid, user_id, ts AS s,
             ts + INTERVAL 1 HOUR AS e
           FROM events
           WHERE event_type = 'purchase' AND event_id % 2 = 1)
         SELECT a.event_id, CAST(b.wid AS BIGINT) AS overlap_id
         FROM a LEFT JOIN b
         ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
