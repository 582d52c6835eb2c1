-- anchored 3-day calendar buckets: same floor-division day
-- arithmetic as the engine, on zone-free DATEs
SELECT DATE '2024-01-05' + to_days(CAST(floor(
             date_diff('day', DATE '2024-01-05', CAST(ts AS DATE))
             / 3.0) AS INT) * 3) AS bucket,
           event_type, count(*) AS n, round(sum(value), 4) AS total_r
         FROM events GROUP BY 1, 2
