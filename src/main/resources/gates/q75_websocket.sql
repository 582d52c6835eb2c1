-- websocket: one JSON frame per nation row through the RFC 6455
-- fixture == the table
SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
           CAST(n_regionkey AS BIGINT) AS rk FROM nation
