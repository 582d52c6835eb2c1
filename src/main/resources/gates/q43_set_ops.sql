WITH keys AS (SELECT user_id, event_type FROM events),
         big AS (SELECT * FROM keys WHERE user_id < 300),
         clicky AS (SELECT * FROM keys
                    WHERE event_type IN ('click', 'view'))
         SELECT user_id, event_type, 'i' AS src FROM
           (SELECT * FROM big INTERSECT SELECT * FROM clicky)
         UNION ALL
         SELECT user_id, event_type, 'd' AS src FROM
           (SELECT * FROM big EXCEPT SELECT * FROM clicky)
