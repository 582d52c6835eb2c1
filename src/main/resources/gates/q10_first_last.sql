SELECT user_id,
           min_by(value, ts) AS first_value,
           max_by(value, ts) AS last_value,
           max_by(event_type, ts) AS last_type,
           min_by(event_type, ts) AS first_type,
           any_value(user_id) AS uid_any,
           count(*) AS n
         FROM events GROUP BY user_id
