-- stream_cep: the streaming MATCH_RECOGNIZE funnel over the same event
-- stream as stream_agg (`events_src`, registered by the benchmark).
SET 'pipeline.name' = 'perfbench-stream-cep';
SET 'execution.runtime-mode' = 'streaming';
SET 'flinkcommons.trigger' = 'availableNow';
SET 'flinkcommons.checkpoint.dir' = '${ckpt}';

CREATE TABLE funnel_matches (
    user_id BIGINT,
    start_us BIGINT,
    end_us BIGINT,
    n_clicks BIGINT
) WITH ('connector' = 'filesystem', 'path' = '${out}/funnel', 'format' = 'parquet');

INSERT INTO funnel_matches
SELECT user_id, start_us, end_us, n_clicks
FROM events_src
  MATCH_RECOGNIZE (
    PARTITION BY user_id
    ORDER BY row_time, event_id
    MEASURES
      FIRST(v.ts_us) AS start_us,
      LAST(p.ts_us)  AS end_us,
      COUNT(c.*)     AS n_clicks
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (v c+ p)
    DEFINE
      v AS v.event_type = 'view',
      c AS c.event_type = 'click',
      p AS p.event_type = 'purchase'
  );
