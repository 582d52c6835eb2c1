-- keyed lag == LAG window over the same deterministic order
SELECT event_id, event_type,
           lag(value, 1) OVER (PARTITION BY event_type
             ORDER BY event_id) AS prev_value,
           lag(event_id, 3) OVER (PARTITION BY event_type
             ORDER BY event_id) AS prev3_id
         FROM events
