-- reference result of catalog entry q3_shipping_priority, run by DuckDB over the
-- benchmark's generated tables
SELECT l.l_orderkey AS l_orderkey,
       floor((sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue,
       o.o_orderdate AS o_orderdate, o.o_orderpriority AS o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
