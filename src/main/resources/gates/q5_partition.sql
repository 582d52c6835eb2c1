SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem WHERE l_returnflag = 'R'
