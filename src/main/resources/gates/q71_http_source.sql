-- http source: the loopback fixture serves region rows as JSON;
-- source fetch + from_json + unnest must reproduce the table
SELECT r_regionkey, r_name FROM region
