"""Seeded input generator.

Every input is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical parquet files. Shapes and value domains follow the
TPC-H-style tables, documents and events the repository's queries read
(``queries/tpch_batch.sql``, ``dedup_pipeline.sql``,
``match_recognize.sql``); nothing is downloaded.

Each table draws from its own child of one ``SeedSequence``, so a
workload that generates only some tables gets the same contents as one
that generates all of them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH_1992_US = 694_224_000_000_000        # 1992-01-01 00:00:00 UTC
EVENTS_T0_US = 1_767_225_600_000_000       # 2026-01-01 00:00:00 UTC
EVENT_TYPES = ("view", "click", "purchase", "error")
#: rows of an event file may precede the previous file's rows by at most
#: this much; below the 5 s watermark delay, so no row arrives late
MAX_DISORDER_MS = 4_000

_STREAMS = {"customer": 0, "orders": 1, "lineitem": 2, "documents": 3, "events": 4}


@dataclass(frozen=True)
class EventSizes:
    files: int              # one file per micro-batch
    rows_per_file: int
    users: int
    zipf_s: float           # user activity ~ rank ** -zipf_s
    mix: tuple[float, float, float, float]  # P(view, click, purchase, error)
    dims: int               # distinct `dim` values
    minutes: int            # event-time span; groups = dims × minutes
    disorder_share: float   # rows shifted back by up to MAX_DISORDER_MS


@dataclass(frozen=True)
class TpchSizes:
    orders: int             # customers = orders / 10, lineitem ≈ 4 × orders
    documents: int
    dup_share: float        # documents that repeat an earlier text


def _rng(seed: int, table: str) -> np.random.Generator:
    child = np.random.SeedSequence(seed).spawn(len(_STREAMS))[_STREAMS[table]]
    return np.random.default_rng(child)


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us", tz=tz))


def _choice(rng, options: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(options), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(options)).cast(pa.string())


# ------------------------------------------------------------------ TPC-H


def tpch(seed: int, sizes: TpchSizes) -> dict[str, pa.Table]:
    n_orders = sizes.orders
    n_cust = max(n_orders // 10, 3)

    rng = _rng(seed, "customer")
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })

    rng = _rng(seed, "orders")
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    # as in TPC-H, every third customer places no orders
    active = custkey[custkey % 3 != 0]
    o_custkey = active[rng.integers(0, len(active), n_orders)]
    o_date_days = rng.integers(0, 2406, n_orders)
    o_priority = _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)

    rng = _rng(seed, "lineitem")
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    l_orderkey = np.repeat(orderkey, lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_lines) - first + 1).astype(np.int32)
    l_partkey = rng.integers(1, 20_001, n_lines).astype(np.int64)
    l_suppkey = rng.integers(1, 1_001, n_lines).astype(np.int64)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    part_price = (90_000 + (l_partkey // 10) % 20_001 + 100 * (l_partkey % 1_000)) / 100.0
    ext = np.round(qty * part_price, 2)
    disc = rng.integers(0, 11, n_lines) / 100.0
    tax = rng.integers(0, 9, n_lines) / 100.0
    ship_days = np.repeat(o_date_days, lines) + rng.integers(1, 122, n_lines)
    cutoff = 1263  # 1995-06-17, TPC-H's current date
    shipped = ship_days <= cutoff
    flag_ra = np.where(rng.random(n_lines) < 0.5, "R", "A")
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": l_partkey,
        "l_suppkey": l_suppkey,
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(np.where(shipped, flag_ra, "N")),
        "l_linestatus": pa.array(np.where(shipped, "F", "O")),
        "l_shipdate": _ts(EPOCH_1992_US + ship_days * DAY_US),
    })

    charge = ext * (1 + tax) * (1 - disc)
    totals = np.round(np.bincount(l_orderkey - 1, weights=charge, minlength=n_orders), 2)
    n_f = np.bincount(l_orderkey - 1, weights=shipped, minlength=n_orders)
    status = np.where(n_f == lines, "F", np.where(n_f == 0, "O", "P"))
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": o_custkey.astype(np.int64),
        "o_orderstatus": pa.array(status),
        "o_totalprice": totals,
        "o_orderdate": _ts(EPOCH_1992_US + o_date_days * DAY_US),
        "o_orderpriority": o_priority,
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "documents": documents(seed, sizes)}


def documents(seed: int, sizes: TpchSizes) -> pa.Table:
    """ASCII word-salad documents; ``dup_share`` of them repeat an
    earlier text up to case and whitespace (equal after normalization,
    so the exact-dedup fingerprint collapses them)."""
    rng = _rng(seed, "documents")
    n = sizes.documents
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, size=rng.integers(2, 11))) for _ in range(3000)])
    ranks = np.arange(1, len(vocab) + 1)
    wp = ranks ** -1.0
    wp /= wp.sum()
    punct = np.array(["", "", "", "", ",", ".", "!", "?"])
    lengths = rng.integers(5, 200, n)
    words = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=wp)]
    tokens = np.char.add(words, punct[rng.integers(0, len(punct), len(words))]).tolist()
    ends = np.cumsum(lengths)
    is_dup = rng.random(n) < sizes.dup_share
    src_pick = rng.random(n)
    variant = rng.integers(0, 3, n)
    texts: list[str] = []
    for i in range(n):
        if is_dup[i] and i > 0:
            src = texts[int(src_pick[i] * i)]
            texts.append(src.upper() if variant[i] == 0
                         else "  " + src.replace(" ", "   ") if variant[i] == 1
                         else src + " \n")
        else:
            texts.append(" ".join(tokens[ends[i] - lengths[i]:ends[i]]))
    return pa.table({
        "doc_id": np.arange(1, n + 1, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _choice(rng, ["en", "de", "fr", "es"], n),
        "source": _choice(rng, ["web", "books", "news", "code"], n),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# ----------------------------------------------------------------- events


def events(seed: int, sizes: EventSizes) -> pa.Table:
    """Event rows in file order, with a ``file`` column naming the
    micro-batch each belongs to. File ``k`` covers its own slice of the
    event-time span; ``disorder_share`` of its rows are shifted back by
    up to :data:`MAX_DISORDER_MS`, into the previous slice."""
    rng = _rng(seed, "events")
    k_files, per = sizes.files, sizes.rows_per_file
    n = k_files * per
    ranks = np.arange(1, sizes.users + 1)
    w = ranks ** -sizes.zipf_s
    w /= w.sum()
    user_of_rank = 100_000 + rng.permutation(sizes.users)
    user_id = user_of_rank[rng.choice(sizes.users, size=n, p=w)].astype(np.int64)
    slice_ms = sizes.minutes * 60_000 // k_files
    base = np.concatenate([
        k * slice_ms + np.sort(rng.integers(0, slice_ms, per)) for k in range(k_files)
    ])
    back = np.where(rng.random(n) < sizes.disorder_share,
                    rng.integers(1, MAX_DISORDER_MS + 1, n), 0)
    ts_ms = np.maximum(base - back, 1)
    etype = rng.choice(len(EVENT_TYPES), size=n, p=list(sizes.mix))
    dims = np.array([chr(ord("a") + i) for i in range(sizes.dims)])
    return pa.table({
        "event_id": np.arange(1, n + 1, dtype=np.int64),
        "user_id": user_id,
        "dim": pa.array(dims[rng.integers(0, sizes.dims, n)]),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype]),
        "price": rng.integers(50, 1001, n).astype(np.float64),
        "ts": _ts(EVENTS_T0_US + ts_ms * 1000, tz="UTC"),
        "file": np.repeat(np.arange(k_files, dtype=np.int32), per),
    })


def write_tables(tables: dict[str, pa.Table], out: Path) -> dict[str, int]:
    for name, t in tables.items():
        _write(t, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def write_events_batch(table: pa.Table, path: Path) -> int:
    _write(table.drop_columns(["file"]), path)
    return table.num_rows


def write_events_stream(table: pa.Table, out: Path) -> int:
    """One parquet file per micro-batch, with increasing modification
    times (the file source admits files oldest first)."""
    out.mkdir(parents=True, exist_ok=True)
    files = table.column("file").to_numpy()
    body = table.drop_columns(["file"])
    base = 1_700_000_000
    for k in range(int(files.max()) + 1):
        path = out / f"events-{k:04d}.parquet"
        idx = np.flatnonzero(files == k)
        _write(body.take(pa.array(idx)), path)
        os.utime(path, (base + k, base + k))
    return table.num_rows
