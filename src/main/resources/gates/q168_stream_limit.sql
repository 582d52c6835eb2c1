-- first-20-per-key at-or-after the offset: ts-ordered staging
-- makes the streaming emitted-count selection equal the batch
-- row_number (event_id tiebreak never decides — ts is unique at
-- microsecond precision in the fixture)
SELECT event_id, event_type FROM (
           SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
               ORDER BY ts, event_id) AS rn
           FROM events WHERE ts >= TIMESTAMP '2024-01-10 23:30:00')
         WHERE rn <= 20
