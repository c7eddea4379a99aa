-- batch_match: the match_recognize.sql shapes over seeded events —
-- the funnel, the PREV V-shape and a running-aggregate DEFINE.
SET 'pipeline.name' = 'perfbench-batch-match';
SET 'execution.runtime-mode' = 'batch';

CREATE TABLE events WITH ('connector' = 'filesystem', 'path' = '${data}/events.parquet', 'format' = 'parquet');
CREATE TABLE m_funnel WITH ('connector' = 'filesystem', 'path' = '${out}/m_funnel', 'format' = 'parquet');
CREATE TABLE m_vshape WITH ('connector' = 'filesystem', 'path' = '${out}/m_vshape', 'format' = 'parquet');
CREATE TABLE m_define_agg WITH ('connector' = 'filesystem', 'path' = '${out}/m_define_agg', 'format' = 'parquet');

INSERT INTO m_funnel
SELECT user_id, unix_micros(start_ts) AS start_us, unix_micros(end_ts) AS end_us, n_clicks
FROM events
  MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES
      FIRST(v.ts) AS start_ts,
      LAST(p.ts)  AS end_ts,
      COUNT(c.*)  AS n_clicks
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (v c+ p)
    DEFINE
      v AS v.event_type = 'view',
      c AS c.event_type = 'click',
      p AS p.event_type = 'purchase'
  );

INSERT INTO m_vshape
SELECT user_id, unix_micros(start_ts) AS start_us, unix_micros(end_ts) AS end_us, n_down, n_up
FROM events
  MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES
      FIRST(strt.ts) AS start_ts,
      LAST(up.ts)    AS end_ts,
      COUNT(down.*)  AS n_down,
      COUNT(up.*)    AS n_up
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (strt down+ up+)
    DEFINE
      down AS down.price < PREV(down.price),
      up   AS up.price   > PREV(up.price)
  );

INSERT INTO m_define_agg
SELECT user_id, unix_micros(start_ts) AS start_us, n_clicks, p_price, sum_click
FROM events
  MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY ts, event_id
    MEASURES
      FIRST(v.ts)  AS start_ts,
      COUNT(c.*)   AS n_clicks,
      p.price      AS p_price,
      SUM(c.price) AS sum_click
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (v c+ p)
    DEFINE
      v AS v.event_type = 'view',
      c AS c.event_type = 'click',
      p AS p.event_type = 'purchase' AND p.price > AVG(c.price)
  );
