SELECT o_orderkey AS k, o_orderstatus AS st,
           o_totalprice AS tp FROM orders
