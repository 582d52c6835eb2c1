-- top-k sketch with k = full domain and capacity >= distincts ≡
-- exact frequency counts
SELECT event_type AS item, count(*) AS cnt
         FROM events GROUP BY event_type
