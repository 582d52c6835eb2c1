SELECT user_id, event_id, value FROM (
           SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id DESC) AS rn
           FROM events) WHERE rn <= 2
