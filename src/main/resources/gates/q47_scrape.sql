SELECT CAST(o_orderkey AS VARCHAR) AS key_txt,
           '/o/' || CAST(o_orderkey AS VARCHAR) AS href,
           o_orderstatus AS label
         FROM orders
