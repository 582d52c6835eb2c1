-- only the fallback pipeline produces output
SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1
