-- the fixture endpoint is a pure function of the key
SELECT n_nationkey, 'val-' || n_nationkey AS resp
         FROM nation
