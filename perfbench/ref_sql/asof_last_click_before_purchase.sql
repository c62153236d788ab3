-- reference result of catalog entry asof_last_click_before_purchase, run by DuckDB over the
-- benchmark's generated tables
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     ranked AS (
       SELECT p.event_id AS purchase_id, c.event_id AS click_id,
              row_number() OVER (PARTITION BY p.event_id
                                 ORDER BY c.ts DESC, c.event_id DESC) AS rn
       FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
     )
SELECT purchase_id, click_id FROM ranked WHERE rn = 1
