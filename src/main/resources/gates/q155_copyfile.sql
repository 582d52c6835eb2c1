-- copyfile roundtrip is lossless → identity oracle
SELECT n_nationkey, n_name, n_regionkey FROM nation
