-- stub:linear onnx session: out = 2*x + 1, elementwise — both
-- engines run the identical IEEE double mul/add
SELECT o_orderkey, 2 * o_totalprice + 1 AS score
         FROM orders
