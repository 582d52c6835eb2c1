-- streaming first-seen-wins exact dedup keyed on event_type ≡
-- the distinct key set
SELECT DISTINCT event_type FROM events
