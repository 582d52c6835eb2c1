-- the approx streaming monitor in the exact regime: same per-day
-- replay as q182 but the value histogram buckets by the
-- BASELINE's exact quantile edges (bucket(v) = |{edges e :
-- v > e}|, q175's convention); event_type is the same exact
-- top-20 (frequent-items retains the full small vocabulary)
WITH b AS (
           SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'),
         bs AS (
           SELECT count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v
           FROM b),
         bv AS (
           SELECT CAST(value AS DOUBLE) v FROM b
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
         st AS (
           SELECT v, row_number() OVER (ORDER BY v) rn,
             count(*) OVER () n FROM bv),
         ed AS (
           SELECT i.i, min(s.v) AS e
           FROM (SELECT unnest(range(1, 10)) AS i) i
           JOIN st s
             ON CAST(s.rn AS DOUBLE) >= (CAST(i.i AS DOUBLE) / 10) * s.n
           GROUP BY i.i),
         bhv AS (
           SELECT (SELECT count(*) FROM ed WHERE bv.v > ed.e) AS i,
             count(*) c
           FROM bv GROUP BY 1),
         nbv AS (SELECT sum(c) s FROM bhv),
         topc AS (
           SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS i
           FROM (SELECT event_type v, count(*) c FROM b
                 WHERE event_type IS NOT NULL GROUP BY 1)
           QUALIFY row_number() OVER (ORDER BY c DESC, v ASC) <= 20),
         bcat AS (SELECT count(*) k FROM topc),
         bhe AS (
           SELECT coalesce(t.i, bcat.k) i, count(*) c
           FROM b CROSS JOIN bcat
           LEFT JOIN topc t ON b.event_type = t.v
           WHERE b.event_type IS NOT NULL GROUP BY 1),
         nbe AS (SELECT sum(c) s FROM bhe),
         cur AS (
           SELECT time_bucket(INTERVAL 1 DAY, ts) w, *
           FROM events WHERE ts >= TIMESTAMP '2024-01-15'),
         curs AS (
           SELECT w, count(*) n,
             count(*) FILTER (value IS NULL) nul_v,
             count(*) FILTER (event_type IS NULL) nul_e,
             avg(value) mean_v
           FROM cur GROUP BY 1),
         chv AS (
           SELECT x.w, (SELECT count(*) FROM ed WHERE x.v > ed.e) AS i,
             count(*) c
           FROM (SELECT w, CAST(value AS DOUBLE) v FROM cur
                 WHERE value IS NOT NULL
                   AND NOT isnan(CAST(value AS DOUBLE))) x
           GROUP BY 1, 2),
         che AS (
           SELECT w, coalesce(t.i, bcat.k) i, count(*) c
           FROM cur CROSS JOIN bcat
           LEFT JOIN topc t ON cur.event_type = t.v
           WHERE cur.event_type IS NOT NULL GROUP BY 1, 2),
         psiv AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0)
                  - (coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + 5.0))
                  / ((coalesce(bh.c, 0) + 0.5) / (nbv.s + 5.0)))) psi
           FROM (SELECT w, sum(c) s FROM chv GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0, 10)) AS i) g
           CROSS JOIN nbv
           LEFT JOIN bhv bh ON bh.i = g.i
           LEFT JOIN chv ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w),
         psie AS (
           SELECT wi.w,
             sum(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5)
                  - (coalesce(bh.c, 0) + 0.5) / (nbe.s + (bcat.k + 1) * 0.5))
               * ln(((coalesce(ch.c, 0) + 0.5) / (wi.s + (bcat.k + 1) * 0.5))
                  / ((coalesce(bh.c, 0) + 0.5)
                     / (nbe.s + (bcat.k + 1) * 0.5)))) psi
           FROM (SELECT w, sum(c) s FROM che GROUP BY 1) wi
           CROSS JOIN (SELECT unnest(range(0,
             (SELECT k FROM bcat) + 1)) AS i) g
           CROSS JOIN nbe CROSS JOIN bcat
           LEFT JOIN bhe bh ON bh.i = g.i
           LEFT JOIN che ch ON ch.w = wi.w AND ch.i = g.i
           GROUP BY wi.w)
         SELECT strftime(c.w, '%Y-%m-%d') AS day, 'value' AS "column",
           bs.n AS n_base, c.n AS n_cur,
           bs.nul_v AS nulls_base, c.nul_v AS nulls_cur,
           round(c.nul_v * 1.0 / c.n - bs.nul_v * 1.0 / bs.n, 6) AS nfd_r,
           round(c.mean_v - bs.mean_v, 6) AS mean_delta_r,
           round(p.psi, 6) AS psi_r
         FROM curs c CROSS JOIN bs LEFT JOIN psiv p ON p.w = c.w
         UNION ALL
         SELECT strftime(c.w, '%Y-%m-%d'), 'event_type',
           bs.n, c.n, bs.nul_e, c.nul_e,
           round(c.nul_e * 1.0 / c.n - bs.nul_e * 1.0 / bs.n, 6),
           CAST(NULL AS DOUBLE),
           round(p.psi, 6)
         FROM curs c CROSS JOIN bs LEFT JOIN psie p ON p.w = c.w
