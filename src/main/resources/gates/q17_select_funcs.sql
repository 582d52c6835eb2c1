SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END
             AS status_or_null,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS tier,
           sha256(CAST(o_orderkey AS VARCHAR)) AS key_sha,
           to_base64(ENCODE(o_orderpriority)) AS pri_b64
         FROM orders
