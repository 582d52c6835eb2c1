SELECT n_nationkey,
           '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name
             || '"}' AS j,
           n_name AS name_back,
           '{"n_name":"' || n_name || '","n_regionkey":"'
             || CAST(n_regionkey AS VARCHAR) || '"}' AS mj
         FROM nation
