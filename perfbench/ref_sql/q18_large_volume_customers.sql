-- reference result of catalog entry q18_large_volume_customers, run by DuckDB over the
-- benchmark's generated tables
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       floor((sum(CAST(floor((l.l_quantity) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS sum_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
HAVING sum(CAST(floor(l.l_quantity * 10000 + 0.5) AS BIGINT)) > 2000000
ORDER BY o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
