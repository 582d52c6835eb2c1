-- __event_time from timestampAttribute ≡ the raw column
SELECT event_id, ts AS et FROM events
