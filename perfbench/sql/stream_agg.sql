-- stream_agg: the reference demo (test.sql) over the seeded event
-- stream. `events_src` is a streaming view the benchmark registers over
-- the event files (one file per micro-batch, 5 s watermark on row_time).
SET 'pipeline.name' = 'perfbench-stream-agg';
SET 'parallelism.default' = '2';
SET 'table.exec.mini-batch.enabled' = 'true';
SET 'table.exec.mini-batch.allow-latency' = '5s';
SET 'table.exec.mini-batch.size' = '5000';
SET 'execution.runtime-mode' = 'streaming';
SET 'execution.checkpointing.enabled' = 'true';
SET 'execution.checkpointing.interval' = '3s';
SET 'flinkcommons.trigger' = 'availableNow';
SET 'flinkcommons.checkpoint.dir' = '${ckpt}';

CREATE TABLE tbl_order_stat (
    dim STRING,
    pv BIGINT,
    uv BIGINT,
    sum_price DOUBLE,
    max_price DOUBLE,
    min_price DOUBLE,
    window_start BIGINT
) WITH (
    'connector' = 'upsert-filesystem',
    'path' = '${out}/order_stat',
    'key' = 'dim,window_start'
);

INSERT INTO tbl_order_stat
SELECT
    dim,
    count(*) AS pv,
    count(distinct user_id) AS uv,
    sum(price) AS sum_price,
    max(price) AS max_price,
    min(price) AS min_price,
    cast(unix_timestamp(cast(row_time as string)) / 60 AS bigint) AS window_start
FROM events_src
GROUP BY dim, cast(unix_timestamp(cast(row_time as string)) / 60 AS bigint);
