-- thresholds: 0.2*2^32 = 0x33333333, 0.05*2^32 = 0x0ccccccc,
-- 1.0 -> 'g' (keep all: sorts after every hex digit)
SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem
         WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
             CAST(l_linenumber AS VARCHAR)), 1, 8) <
           CASE l_returnflag WHEN 'A' THEN '33333333'
             WHEN 'N' THEN '0ccccccc' ELSE 'g' END
