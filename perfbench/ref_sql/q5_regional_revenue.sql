-- reference result of catalog entry q5_regional_revenue, run by DuckDB over the
-- benchmark's generated tables
SELECT n.n_name AS n_name,
       floor((sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
