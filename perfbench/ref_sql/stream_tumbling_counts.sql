-- reference result of catalog entry stream_tumbling_counts, run by DuckDB over the
-- benchmark's generated tables
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_value
FROM events GROUP BY 1, event_type
