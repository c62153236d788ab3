-- reference result of catalog entry q6_forecast_revenue, run by DuckDB over the
-- benchmark's generated tables
SELECT floor((sum(CAST(floor((l_extendedprice * l_discount) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
