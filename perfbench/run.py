#!/usr/bin/env python3
"""Benchmark of the ``sql-submit`` runner on seeded inputs.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 8 --trace 0

Runs one workload in this process: set-up (session + ``register_all``),
input generation, a cold and a warm-up pass, then measured passes for
``--seconds``.
Every pass's sinks are checked against DuckDB. The last line of stdout
is the result object; ``--trace 1`` reports the per-layer metrics
instead of the end-to-end ones (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# spelled out rather than imported from perfbench.workloads, whose
# numpy/pyarrow/duckdb imports would otherwise count toward setup_s
NAMES = ("batch_sql", "batch_match", "stream_agg", "stream_cep")
DEADLINE_S = 170.0    # the run gives up (exit 3) rather than overrun


def process_age_s() -> float:
    """Seconds since this process started (``/proc``, clock-tick resolution)."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _watchdog() -> None:
    time.sleep(DEADLINE_S)
    print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, giving up", file=sys.stderr, flush=True)
    import faulthandler

    faulthandler.dump_traceback(file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.kill()
        gw.proc.wait()
    os._exit(3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    threading.Thread(target=_watchdog, daemon=True).start()

    sys.path.insert(0, str(ROOT))
    from perfbench import tree

    try:
        pkg = tree.pin(ROOT)
    except tree.TreeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    from perfbench import session

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    session.configure_env(work, cpus)

    tracer = None
    if args.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(run_id=f"{args.workload}-{args.seed}-setup")
        tracer.install()
    spark = session.start()
    setup_s = process_age_s()

    from pyspark.sql import SparkSession

    from perfbench import measure
    from perfbench.workloads import clean

    try:
        result, detail, spark = measure.run(spark, args.workload, args.seed, args.seconds, work, tracer)
    finally:
        session.stop(SparkSession.getActiveSession() or spark)
        clean(work)
    detail.update({"workload": args.workload, "seed": args.seed, "cpus": cpus,
                   "package": pkg.__file__, **tree.identity(ROOT)})
    if args.trace:
        metrics = result.pop("per_layer")
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **result.pop("end_to_end"),
        }
    print("perfbench-detail " + json.dumps(detail, default=str))
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
