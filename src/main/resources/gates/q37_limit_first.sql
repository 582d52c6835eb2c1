SELECT user_id, event_id FROM (
           SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
           FROM events) WHERE rn <= 3
