-- exact-regime count-min estimates ≡ true per-user event counts
SELECT user_id, count(*) AS freq
         FROM events WHERE user_id % 7 = 0
         GROUP BY user_id
