-- split thresholds: 0.8·2^32 = 0xcccccccc, 0.9·2^32 = 0xe6666666
SELECT o_orderkey,
           CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                  < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                  < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
         FROM orders
