-- reference result of catalog entry flo_consume_vv, run by DuckDB over the
-- benchmark's generated tables
WITH env AS (
    SELECT *,
           CAST(event_id % 4 AS INT) AS partition,
           event_id AS event_counter,
           '/' || event_type || '/u' || CAST(user_id % 10 AS VARCHAR) AS namespace
    FROM events
)
    SELECT event_counter, partition, event_type, value
    FROM env
    WHERE (partition = 0 AND event_counter > 500)
       OR (partition = 1 AND event_counter > 120)
       OR (partition = 3 AND event_counter > 40)
    ORDER BY event_counter
    LIMIT 500
