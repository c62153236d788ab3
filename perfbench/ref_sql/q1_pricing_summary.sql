-- reference result of catalog entry q1_pricing_summary, run by DuckDB over the
-- benchmark's generated tables
SELECT l_returnflag, l_linestatus,
       floor((sum(CAST(floor((l_quantity) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS sum_qty,
       floor((sum(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS sum_base_price,
       floor((sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS sum_disc_price,
       floor(CAST(sum(CAST(floor((l_quantity) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 10000.0 AS avg_qty,
       floor(CAST(sum(CAST(floor((l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) + 0.5) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
