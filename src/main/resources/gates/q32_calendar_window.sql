SELECT CAST(CAST(to_timestamp(floor(epoch_ns(ts) / 1000000000))
             AS DATE) AS VARCHAR) AS day_str,
           count(*) AS n,
           array_to_string(list_sort(list(DISTINCT user_id)), ',')
             AS uniq_users
         FROM events GROUP BY 1
