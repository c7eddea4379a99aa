"""Output checks: every sink a pass writes, against DuckDB on the same
generated inputs.

A result matches when the row count, the schema (column names and type
class) and an order-insensitive hash of the rows agree. Doubles are
hashed at 6 significant digits, so two engines summing in a different
order still agree. Two engines can still round a double that sits on a
rounding boundary to neighbouring values (``round(x, 6)`` of a tie, or a
sum's last digit carried into the sixth): when only the hash differs,
the rows are paired on their other columns and each double must agree
within :data:`REL_TOL`. A wrong row still fails.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pyarrow as pa

# ---------------------------------------------------------------- oracles

_TOKS = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')"
_RAW_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')"
_FINGERPRINT = f"('0x' || substr(md5(array_to_string({_TOKS}, ' ')), 1, 14))::bigint"
_QUALITY = f"""round((0.4 * least(length(text) / 500.0, 1.0)
 + 0.3 * (1.0 - least((length(regexp_replace(text, '[\\w\\s]', '', 'g'))::double
                       / greatest(length(text), 1)) * 5, 1.0)))
 + 0.3 * (CASE WHEN (list_sum(list_transform({_RAW_TOKS}, t -> length(t)))::double
                    / greatest(len({_RAW_TOKS}), 1)) BETWEEN 3 AND 10
          THEN 1.0 ELSE 0.5 END), 6)"""
_SPLIT_BUCKET = "(('0x' || substr(md5('split|' || doc_id::varchar), 1, 8))::bigint % 10000)"

BATCH_SQL = {
    "q03_shipping": """
        SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "w_top_customers": """
        SELECT c_nationkey, c_custkey, spend, rk FROM (
          SELECT c_nationkey, c_custkey, spend,
                 row_number() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rk
          FROM (SELECT c_nationkey, c_custkey, round(sum(o_totalprice), 2) AS spend
                FROM customer JOIN orders ON c_custkey = o_custkey
                GROUP BY c_nationkey, c_custkey))
        WHERE rk <= 3""",
    "d_weekly": """
        SELECT epoch(time_bucket(INTERVAL 7 DAY, o_orderdate, TIMESTAMP '1970-01-01'))::bigint AS week_start_s,
               count(*) AS n_orders, max(o_totalprice) AS max_price
        FROM orders GROUP BY 1""",
    "kept_docs": f"""
        WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {_FINGERPRINT})
        SELECT d.doc_id, d.lang, d.source,
               len({_TOKS.replace('lower(text)', 'lower(d.text)')})::bigint AS n_tokens,
               {_QUALITY.replace('text', 'd.text')} AS quality,
               CASE WHEN {_SPLIT_BUCKET.replace('doc_id', 'd.doc_id')} < 8000 THEN 'train'
                    WHEN {_SPLIT_BUCKET.replace('doc_id', 'd.doc_id')} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d JOIN keep k ON k.doc_id = d.doc_id
        WHERE {_QUALITY.replace('text', 'd.text')} >= 0.5""",
}

_SEQ = """
  SELECT user_id, event_id, event_type, price, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM {src}"""

# greedy `v c+ p`: a view, the maximal click run after it, then a purchase
_FUNNEL = """
WITH seq AS ({seq}),
isl AS (SELECT user_id, rn, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        FROM seq WHERE event_type = 'click'),
runs AS (SELECT user_id, min(rn) AS srn, max(rn) AS ern, count(*)::bigint AS n_clicks
         FROM isl GROUP BY user_id, grp),
cagg AS (SELECT r.user_id, r.srn, r.ern, r.n_clicks, sum(s.price) AS sum_click,
                avg(s.price) AS avg_click
         FROM runs r JOIN seq s ON s.user_id = r.user_id AND s.rn BETWEEN r.srn AND r.ern
         GROUP BY ALL)
SELECT c.user_id, v.ts_us AS start_us, p.ts_us AS end_us, c.n_clicks,
       p.price AS p_price, c.sum_click, c.avg_click
FROM cagg c
JOIN seq v ON v.user_id = c.user_id AND v.rn = c.srn - 1 AND v.event_type = 'view'
JOIN seq p ON p.user_id = c.user_id AND p.rn = c.ern + 1 AND p.event_type = 'purchase'
"""

# greedy `strt down+ up+`: the D/U masks are fixed per row, so a match
# starting at row p (the row before a D) takes the maximal D run and the
# maximal U run right after it. These are the candidates; the AFTER MATCH
# SKIP PAST LAST ROW cursor then keeps, per user, each candidate that
# starts after the previous kept one ended (see vshape()).
_VSHAPE_CANDIDATES = """
WITH seq AS ({seq}),
dirs AS (SELECT user_id, rn,
                CASE WHEN price < lag(price) OVER w THEN 'D'
                     WHEN price > lag(price) OVER w THEN 'U' ELSE 'F' END AS dir
         FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
runs AS (SELECT user_id, rn, dir,
                rn - row_number() OVER (PARTITION BY user_id, dir ORDER BY rn) AS grp
         FROM dirs WHERE dir IN ('D', 'U')),
rbound AS (SELECT user_id, dir, min(rn) AS s, max(rn) AS e FROM runs GROUP BY user_id, dir, grp),
drun AS (SELECT d.user_id, d.s AS ds, d.e AS de, u.e AS ue
         FROM rbound d JOIN rbound u
           ON u.user_id = d.user_id AND d.dir = 'D' AND u.dir = 'U' AND u.s = d.e + 1),
cand AS (SELECT r.user_id, q.rn - 1 AS p, r.de, r.ue
         FROM drun r JOIN runs q
           ON q.user_id = r.user_id AND q.dir = 'D' AND q.rn BETWEEN r.ds AND r.de
         WHERE q.rn - 1 >= 1)
SELECT c.user_id, c.p, c.ue, s0.ts_us AS start_us, s2.ts_us AS end_us,
       c.de - c.p AS n_down, c.ue - c.de AS n_up
FROM cand c
JOIN seq s0 ON s0.user_id = c.user_id AND s0.rn = c.p
JOIN seq s2 ON s2.user_id = c.user_id AND s2.rn = c.ue
ORDER BY c.user_id, c.p
"""


def vshape(con: duckdb.DuckDBPyConnection) -> duckdb.DuckDBPyRelation:
    """The V-shape matches: DuckDB finds the candidates, and the skip
    cursor walks them per user."""
    keep = {k: [] for k in ("user_id", "start_us", "end_us", "n_down", "n_up")}
    user, next_start = None, 0
    for u, p, ue, start_us, end_us, n_down, n_up in con.sql(
            _VSHAPE_CANDIDATES.format(seq=_SEQ.format(src="events"))).fetchall():
        if u != user:
            user, next_start = u, 0
        if p >= next_start:
            for k, v in zip(keep, (u, start_us, end_us, n_down, n_up)):
                keep[k].append(v)
            next_start = ue + 1
    table = pa.table({k: pa.array(v, pa.int64()) for k, v in keep.items()})
    return con.from_arrow(table)


BATCH_MATCH = {
    "m_funnel": f"SELECT user_id, start_us, end_us, n_clicks FROM ({_FUNNEL.format(seq=_SEQ.format(src='events'))})",
    "m_vshape": vshape,
    "m_define_agg": f"""SELECT user_id, start_us, n_clicks, p_price, sum_click
        FROM ({_FUNNEL.format(seq=_SEQ.format(src='events'))}) WHERE p_price > avg_click""",
}

STREAM_AGG = """
SELECT dim, count(*) AS pv, count(DISTINCT user_id) AS uv, sum(price) AS sum_price,
       max(price) AS max_price, min(price) AS min_price,
       (epoch_ms(ts) // 60000)::bigint AS window_start
FROM events GROUP BY dim, window_start"""


def stream_cep_sql(watermark_ms: int) -> str:
    """The funnel over the watermark-closed prefix of the stream."""
    closed = f"(SELECT * FROM events WHERE epoch_ms(ts) < {int(watermark_ms)})"
    return f"SELECT user_id, start_us, end_us, n_clicks FROM ({_FUNNEL.format(seq=_SEQ.format(src=closed))})"


# ------------------------------------------------------------- comparison


#: relative difference two engines' doubles may show (last-digit rounding)
REL_TOL = 1e-5


@dataclass
class Result:
    columns: list[tuple[str, str]]   # (name, type class)
    rows: int
    digest: str
    table: list[tuple]               # canonical rows, sorted


def _type_class(t: str) -> str:
    t = t.upper()
    if any(k in t for k in ("INT",)):
        return "int"
    if any(k in t for k in ("DOUBLE", "FLOAT", "REAL", "DECIMAL")):
        return "float"
    if "TIMESTAMP" in t:
        return "timestamp"
    return {"VARCHAR": "string", "BOOLEAN": "bool", "DATE": "date"}.get(t, t.lower())


def _canon(v):
    if isinstance(v, float | decimal.Decimal):
        x = float(f"{float(v):.6g}")
        return 0.0 if x == 0 else x
    if isinstance(v, dt.datetime | dt.date):
        return v.isoformat()
    return v


def summarize(rel: duckdb.DuckDBPyRelation) -> Result:
    cols = [(n, _type_class(str(t))) for n, t in zip(rel.columns, rel.types)]
    rows = sorted((tuple(_canon(v) for v in r) for r in rel.fetchall()), key=repr)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return Result(cols, len(rows), h.hexdigest()[:16], rows)


class Oracle:
    """A DuckDB connection with the workload's inputs as views."""

    def __init__(self, inputs: dict[str, Path], scratch: Path):
        self.con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                          "temp_directory": str(scratch)})
        self.con.execute("SET TimeZone = 'UTC'")
        for name, path in inputs.items():
            glob = f"{path}/*.parquet" if path.is_dir() else str(path)
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        self._expected: dict[str, Result] = {}

    def expected(self, name: str, query) -> Result:
        """``query``: SQL text, or a function of the connection that
        returns a relation."""
        if name not in self._expected:
            rel = query(self.con) if callable(query) else self.con.sql(query)
            self._expected[name] = summarize(rel)
        return self._expected[name]

    def actual(self, sink_dir: Path, sql: str = "SELECT * FROM sink") -> Result:
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW sink AS "
                         f"SELECT * FROM read_parquet('{sink_dir}/**/*.parquet')")
        return summarize(self.con.sql(sql))

    def count(self, sink_dir: Path) -> int:
        return self.con.sql(f"SELECT count(*) FROM read_parquet('{sink_dir}/**/*.parquet')").fetchone()[0]

    def close(self) -> None:
        self.con.close()


def compare(name: str, want: Result, got: Result) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got.columns != want.columns:
        return f"{name}: schema {got.columns} != {want.columns}"
    if got.rows != want.rows:
        return f"{name}: {got.rows} rows != {want.rows}"
    if got.digest == want.digest:
        return None
    floats = [i for i, (_, t) in enumerate(want.columns) if t == "float"]

    def paired(rows):
        return sorted(rows, key=lambda r: repr(tuple(v for i, v in enumerate(r) if i not in floats)) + repr(r))

    for g, w in zip(paired(got.table), paired(want.table)):
        if not all(g[i] == w[i] if i not in floats else _close(g[i], w[i]) for i in range(len(w))):
            return f"{name}: row hash {got.digest} != {want.digest}; first differing row {g} vs {w}"
    return None


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-9)
