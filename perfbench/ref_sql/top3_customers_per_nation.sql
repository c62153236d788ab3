-- reference result of catalog entry top3_customers_per_nation, run by DuckDB over the
-- benchmark's generated tables
SELECT n_nationkey, c_custkey, c_acctbal, rn FROM (
  SELECT c_nationkey AS n_nationkey, c_custkey, round(c_acctbal, 2) AS c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
