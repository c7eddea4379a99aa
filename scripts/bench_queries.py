"""Time an arbitrary subset of contract queries.

Usage::

    python scripts/bench_queries.py [--sf DIR] [--runs N] query [query...]

One warm pass then ``--runs`` timed passes per query (min reported) —
the same protocol as bench.py, scoped to the named queries so an
operator family can be A/B'd without the 19-minute full bench. The
session is ``session.get_session()``'s, so ``SPARK_GRAFT_CPUS`` sets
the core count (default 32) and ``SPARK_DRIVER_MEMORY`` the heap.
Prints one JSON line: {"sf": ..., "queries": {name: min_sec},
"total": sec, "samples": {name: [...]}}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    # same RAM-backed scratch default as bench.py (see its note)
    import os

    if "SPARK_GRAFT_SCRATCH_DIR" not in os.environ and os.path.isdir(
        "/dev/shm"
    ):
        os.environ["SPARK_GRAFT_SCRATCH_DIR"] = "/dev/shm"

    from flink_commons_spark.catalog import QUERIES
    from flink_commons_spark.session import get_session

    # the runner's own session: $SPARK_GRAFT_CPUS cores and Python
    # workers started through session.SESSION_CONF
    spark = get_session("bench-subset")
    spark.sparkContext.setLogLevel("ERROR")

    mins: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in args.queries:
        fn = QUERIES[name]
        for _ in range(args.warm):
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        ts = []
        for _ in range(args.runs):
            t0 = time.monotonic()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            ts.append(round(time.monotonic() - t0, 3))
            spark.catalog.clearCache()
        mins[name] = min(ts)
        samples[name] = ts
        print(f"  {name}: {min(ts):.3f}s {ts}", file=sys.stderr)
    print(json.dumps({
        "sf": args.sf,
        "queries": mins,
        "total": round(sum(mins.values()), 3),
        "samples": samples,
        "scratch_dir": os.environ.get("SPARK_GRAFT_SCRATCH_DIR", ""),
    }))


if __name__ == "__main__":
    main()
