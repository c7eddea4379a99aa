-- batch_sql: TPC-H-shaped analytics plus the corpus-curation INSERT,
-- every result written through INSERT into a parquet sink.
SET 'pipeline.name' = 'perfbench-batch-sql';
SET 'execution.runtime-mode' = 'batch';

CREATE TABLE lineitem WITH ('connector' = 'filesystem', 'path' = '${data}/lineitem.parquet', 'format' = 'parquet');
CREATE TABLE orders WITH ('connector' = 'filesystem', 'path' = '${data}/orders.parquet', 'format' = 'parquet');
CREATE TABLE customer WITH ('connector' = 'filesystem', 'path' = '${data}/customer.parquet', 'format' = 'parquet');
CREATE TABLE documents WITH ('connector' = 'filesystem', 'path' = '${data}/documents.parquet', 'format' = 'parquet');

CREATE TABLE q03_shipping WITH ('connector' = 'filesystem', 'path' = '${out}/q03_shipping', 'format' = 'parquet');
CREATE TABLE w_top_customers WITH ('connector' = 'filesystem', 'path' = '${out}/w_top_customers', 'format' = 'parquet');
CREATE TABLE d_weekly WITH ('connector' = 'filesystem', 'path' = '${out}/d_weekly', 'format' = 'parquet');
CREATE TABLE kept_docs (
    doc_id BIGINT,
    lang STRING,
    source STRING,
    n_tokens BIGINT,
    quality DOUBLE,
    split STRING
) WITH ('connector' = 'filesystem', 'path' = '${out}/kept_docs', 'format' = 'parquet');

INSERT INTO q03_shipping
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp'1995-03-15 00:00:00'
  AND l_shipdate > timestamp'1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10;

INSERT INTO w_top_customers
SELECT c_nationkey, c_custkey, spend, rk
FROM (SELECT c_nationkey, c_custkey, spend,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rk
      FROM (SELECT c_nationkey, c_custkey, round(sum(o_totalprice), 2) AS spend
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY c_nationkey, c_custkey) s) r
WHERE rk <= 3;

INSERT INTO d_weekly
SELECT unix_timestamp(cast(window_start AS string)) AS week_start_s,
       count(*) AS n_orders,
       max(o_totalprice) AS max_price
FROM TABLE(TUMBLE(TABLE orders, DESCRIPTOR(o_orderdate), INTERVAL '7' DAY))
GROUP BY window_start;

-- the dedup_pipeline.sql curation: lowest doc_id per normalized
-- fingerprint, quality gate, deterministic split
INSERT INTO kept_docs
WITH keep AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY fcs_fingerprint(text)
)
SELECT d.doc_id,
       d.lang,
       d.source,
       fcs_token_count(d.text)             AS n_tokens,
       fcs_quality(d.text)                 AS quality,
       fcs_split(cast(d.doc_id AS STRING)) AS split
FROM documents d
JOIN keep k ON k.doc_id = d.doc_id
WHERE fcs_quality(d.text) >= 0.5;
