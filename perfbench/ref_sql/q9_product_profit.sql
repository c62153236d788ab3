-- reference result of catalog entry q9_product_profit, run by DuckDB over the
-- benchmark's generated tables
SELECT ns.n_name AS nation, year(o.o_orderdate) AS o_year,
       floor((sum(CAST(floor((l.l_extendedprice * (1 - l.l_discount) - 0.5 * p.p_retailprice * l.l_quantity) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0
           AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
WHERE p.p_type = 'STANDARD'
GROUP BY nation, o_year
