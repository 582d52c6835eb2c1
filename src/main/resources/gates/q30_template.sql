SELECT o_orderkey,
           'order ' || o_orderkey || ' is ' || o_orderpriority AS msg
         FROM orders
