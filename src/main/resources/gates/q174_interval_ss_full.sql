-- full outer: unmatched rows of BOTH sides null-pad
SELECT c.event_id,
           CAST(p.wid AS BIGINT) AS window_id
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 3 = 0) c
         FULL JOIN (SELECT event_id AS wid, user_id, ts AS s,
                 ts + INTERVAL 2 HOUR AS e
               FROM events
               WHERE event_type = 'purchase' AND user_id % 3 = 0) p
         ON c.user_id = p.user_id AND c.ts BETWEEN p.s AND p.e
