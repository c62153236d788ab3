-- reference result of catalog entry flo_glob_recursive, run by DuckDB over the
-- benchmark's generated tables
WITH env AS (
    SELECT *,
           CAST(event_id % 4 AS INT) AS partition,
           event_id AS event_counter,
           '/' || event_type || '/u' || CAST(user_id % 10 AS VARCHAR) AS namespace
    FROM events
)
    SELECT event_counter, namespace FROM env WHERE user_id % 10 = 3
