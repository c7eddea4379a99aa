"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given scale factor, then compares row count, column
names, and order-insensitive value multiset. Usage::

    python scripts/check_correctness.py [sf_dir] [query ...]
    python scripts/check_correctness.py --round6 [sf_dir] [query ...]

Default mode is EXACT: no float rounding, and the DuckDB result is
fetched through pandas (``.df()``) so type-coercion artifacts the
driver would see are reproduced locally — most importantly DuckDB's
``sum(BIGINT) -> HUGEINT``, which pandas renders as float64 (``6.0``)
while Spark returns int64 (``6``).  ``--round6`` restores the old,
weaker 6-decimal comparison for triage.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(v, round6: bool):
    """Canonicalize one value the way the driver's value-hash would."""
    if hasattr(v, "item"):  # numpy scalar from pandas
        v = v.item()
    if isinstance(v, float):
        if round6:
            v = round(v, 6)
        if v == 0.0:  # fold -0.0
            v = 0.0
        if math.isnan(v):
            return "NaN"
    return repr(v)


def normalize(rows, colnames, round6: bool):
    out = []
    cols = sorted(colnames)
    for row in rows:
        out.append("|".join(_canon(row[name], round6) for name in cols))
    return sorted(out)


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    round6 = "--round6" in argv
    if round6:
        argv.remove("--round6")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    import duckdb
    from perfbench.tree import pin

    # the Python workers import the package too, from any working directory
    pin(ROOT)
    import __spark_entry__ as entrymod
    from flink_commons_spark.session import get_session

    # defaults suit the sf0.01 gate; at sf1+ raise both
    # (SPARK_GRAFT_CPUS=32 SPARK_GRAFT_DRIVER_MEM=16g) or the JVM dies
    # mid-run and every later query reads "Connection refused". The
    # heap default AUTO-SIZES with the dataset (the harness collects
    # both engines' full results for hashing, so driver heap must
    # scale with the largest result set — the round-10 sf3 crash at
    # dedup_clusters was exactly this): ~4g per 50 MB of parquet,
    # clamped to [4g, 32g]; env overrides win.
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    data_mb = sum(
        f.stat().st_size for f in Path(sf_dir).glob("*.parquet")
    ) // 2**20
    auto_mem = f"{min(32, max(4, 4 * (1 + data_mb // 50)))}g"
    os.environ["SPARK_DRIVER_MEMORY"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", auto_mem)
    spark = get_session(app_name="check-correctness", master=f"local[{cpus}]",
                        shuffle_partitions=int(cpus))
    con = duckdb.connect()
    # bound the ORACLE side too: an oracle whose intermediate is
    # quadratic in duplicate density (e.g. a shingle self-join over a
    # 30x-clone corpus) must spill to disk instead of taking the box
    # down — the round-10 sf3 run was OOM-killed at 104 GB RSS by
    # dedup_minhash_recall's DuckDB leg before this cap existed
    import tempfile

    con.execute("SET memory_limit='24GB'")
    con.execute(
        f"SET temp_directory='{tempfile.mkdtemp(prefix='fcs-duck-')}'"
    )
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle, rows-only; spark {spark_s:.1f}s)")
            continue
        t0 = time.time()
        try:
            # fetch through pandas: reproduces driver-side dtype coercion
            # (hugeint -> float64) that fetchall() would mask
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            orows = odf.to_dict("records")
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        oracle_s = time.time() - t0
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(ocols)}")
            failures.append(name)
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            failures.append(name)
            continue
        sn = normalize(srows, scols, round6)
        on = normalize(orows, ocols, round6)
        if sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            print(f"FAIL {name}: value mismatch ({len([1 for a,b in zip(sn,on) if a!=b])} rows); first: ")
            for a, b in diff:
                print(f"   spark:  {a}\n   oracle: {b}")
            failures.append(name)
            continue
        print(f"PASS {name}: rows={len(srows)} (spark {spark_s:.1f}s, oracle {oracle_s:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
