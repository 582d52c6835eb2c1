SELECT a.n_name AS n1, b.n_name AS n2,
           round(jaro_winkler_similarity(a.n_name, b.n_name), 6)
             AS sim_r
         FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
