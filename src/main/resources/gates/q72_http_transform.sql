-- http transform: per-nation-row enrichment via the fixture's
-- region lookup == a plain join
SELECT CAST(n_nationkey AS BIGINT) AS nk, r_name AS region_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
