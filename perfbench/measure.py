"""One benchmark run: inputs, passes, checks, and the metrics."""

from __future__ import annotations

import json
import time
from dataclasses import asdict
from pathlib import Path

from perfbench import layers, oracle, session, stats, tracing
from perfbench.workloads import WORKLOADS, Pass, clean

MIN_WARM = 2          # measured passes in a timed run, however long they take
MIN_TRACED = 1        # untraced and traced warm passes each, in a traced run
RUNS_DIR = Path(__file__).resolve().parent / ".runs"

#: span name → per-layer metric (milliseconds summed over a pass)
SPAN_METRICS = {
    "plans.load_statements": "plans.load_statements_ms",
    "plans.adapt_sql": "plans.adapt_sql_ms",
    "plans.parse_create_table": "plans.parse_create_table_ms",
    "plans.mr_compile": "plans.mr_compile_ms",
    "sources.build_source": "sources.build_source_ms",
    "sources.write_batch_sink": "sources.write_batch_sink_ms",
    "sources.start_stream_sink": "sources.start_stream_sink_ms",
}


class Run:
    def __init__(self, spark, name: str, seed: int, work: Path, tracer: tracing.Tracer | None):
        self.spark, self.wl, self.seed, self.work, self.tracer = spark, WORKLOADS[name], seed, work, tracer
        self.data = work / "in"
        t0 = time.perf_counter()
        self.facts = self.wl.generate(seed, self.data)
        self.facts["generate_s"] = time.perf_counter() - t0
        self.orc = oracle.Oracle(self.wl.inputs(self.data), work / "duckdb")
        self.probe = layers.SparkProbe(spark)
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def one(self, index: int, traced: bool = False) -> tuple[Pass, dict]:
        """Run pass ``index``, then (outside the timed region) read its
        layer counters, check its sinks and delete its outputs."""
        tr = self.tracer
        frames = [] if traced else None
        if tr is not None:
            tr.install() if traced else tr.uninstall()
            tr.run_id = f"{self.wl.name}-{self.seed}-p{index}"
            mark0 = self.probe.mark()
        p = self.wl.run_pass(self.spark, self.data, self.work, index, frames, tr if traced else None)
        layer: dict = {}
        if tr is not None:
            mark1 = self.probe.mark()
            layer.update(self.probe.jobs_between(mark0[0], mark1[0]))
            layer.update(self.probe.python_between(mark0[1], mark1[1]))
            layer["spark.plan_ms"] = layers.plan_ms(frames or [])
            layer.update(layers.streaming_counts(p.progress))
            out_rows = sum(self.orc.count(p.out / s) for s in self.wl.sinks() if (p.out / s).exists())
            layer["streaming.output_ratio"] = (
                out_rows / self.facts["input_rows"] if self.wl.streaming else 0.0)
        checks = self.wl.check(self.orc, p)  # each message starts with its sink's name
        self.attempted += p.statements + p.batches + len(self.wl.sinks())
        self.failed += p.failed + len({e.split(":", 1)[0] for e in checks})
        self.problems += [f"pass {index}: {e}" for e in ([p.error] if p.error else []) + checks]
        clean(p.out)
        clean(self.work / f"ckpt-{index}")
        return p, layer

    def result(self) -> dict:
        return {"correct": not self.problems and self.failed == 0,
                "attempted": max(self.attempted, 1), "failed": self.failed}


def end_to_end(run: Run, seconds: float) -> tuple[dict, dict]:
    """The cold pass, one more warm-up pass (the first pass after the
    cold one is still ~10 % slower than the rest), then the measured
    passes."""
    cold, _ = run.one(0)
    warmup, _ = run.one(1)
    warm: list[Pass] = []
    t0 = time.perf_counter()
    while len(warm) < MIN_WARM or time.perf_counter() - t0 < seconds:
        warm.append(run.one(len(warm) + 2)[0])
    lat = [x for p in warm for x in p.latencies_ms]
    wall = stats.median([p.wall_s for p in warm])
    tail = stats.tail_percentile(len(lat))
    metrics = {
        "rows_per_s": {"value": run.facts["input_rows"] / wall, "unit": "rows/s"},
        "latency_ms_p50": {"value": stats.median(lat), "unit": "ms"},
    }
    # too few samples per run for a tail above the median to have ten
    # beyond it on every workload, so the tail is detail, not a metric
    detail = {"cold_s": cold.wall_s, "warmup_s": warmup.wall_s, "warm_passes": len(warm),
              "warm_wall_s": [p.wall_s for p in warm], "latency_samples": len(lat),
              "latency_tail_percentile": tail, "latency_tail_ms": stats.percentile(lat, tail)}
    return metrics, detail


def per_layer(run: Run, seconds: float, setup_spans: list) -> tuple[dict, dict]:
    """Cold pass traced, a warm-up pass, then untraced and traced warm
    passes in turn (the difference is the tracing overhead), then one
    pass on a ``local[1]`` session."""
    tr = run.tracer
    run.one(0, traced=True)
    run.one(1)  # warm-up, as in a timed run
    untraced: list[Pass] = []
    traced: list[tuple[Pass, dict]] = []
    t0 = time.perf_counter()
    i = 2
    while min(len(untraced), len(traced)) < MIN_TRACED or time.perf_counter() - t0 < seconds:
        if i % 2 == 0:
            untraced.append(run.one(i)[0])
        else:
            traced.append(run.one(i, traced=True))
        i += 1
    pass_spans = {p.index: [s for s in tr.spans if s.run_id.endswith(f"-p{p.index}")]
                  for p, _ in traced}

    tr.uninstall()
    session.stop(run.spark)
    tr.install()
    run.spark = session.start(master="local[1]")
    run.probe = layers.SparkProbe(run.spark)
    one_core, one_core_layer = run.one(i, traced=True)
    tr.uninstall()

    def med(key: str) -> float:
        return stats.median([layer[key] for _, layer in traced])

    def span_ms(index: int, name: str, field: str = "total_ms") -> float:
        return tracing.totals_ms(pass_spans[index]).get(name, {}).get(field, 0.0)

    def span_med(name: str, field: str = "total_ms") -> float:
        return stats.median([span_ms(p.index, name, field) for p, _ in traced])

    warm_traced = stats.median([p.wall_s for p, _ in traced])
    warm_untraced = stats.median([p.wall_s for p in untraced])
    counts = [k for k in traced[0][1]]
    m = {
        "functions.register_all_ms": sum(s.duration_ns for s in setup_spans
                                         if s.name == "functions.register_all") / 1e6,
        "actions.run_s": span_med("actions.run") / 1e3,
        "actions.self_ms": span_med("actions.run", "self_ms"),
        "plans.statements": stats.median([
            sum(s.count or 0 for s in pass_spans[p.index] if s.name == "plans.load_statements")
            for p, _ in traced]),
        **{metric: span_med(name) for name, metric in SPAN_METRICS.items()},
        **{k: med(k) for k in counts},
        "trace.overhead_ms": (warm_traced - warm_untraced) * 1e3,
        "trace.overhead_ratio": warm_traced / warm_untraced - 1.0,
        "local1.pass_s": one_core.wall_s,
        "local1.speedup": one_core.wall_s / warm_traced,
    }
    units = {k: _unit(k) for k in m}
    per_layer_metrics = {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}
    RUNS_DIR.mkdir(exist_ok=True)
    spans_path = RUNS_DIR / f"{run.wl.name}-seed{run.seed}-{int(time.time())}.json"
    selfs = tracing.self_times_ns(tr.spans)
    spans_path.write_text(json.dumps({
        "spans": [{**asdict(s), "self_ns": selfs[s.span_id]} for s in tr.spans],
        "pass_layers": {p.index: layer for p, layer in traced},
        "local1_layers": one_core_layer,
        "self_ms_by_span": {p.index: tracing.totals_ms(pass_spans[p.index]) for p, _ in traced},
    }, default=str))
    detail = {"spans_file": str(spans_path), "traced_passes": len(traced),
              "untraced_passes": len(untraced),
              "span_self_ms": tracing.totals_ms(pass_spans[traced[-1][0].index])}
    return per_layer_metrics, detail


def _unit(key: str) -> str:
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes") or key.endswith(".bytes_sent") or key.endswith(".bytes_received"):
        return "bytes"
    if key.endswith("_ratio") or key.endswith("speedup"):
        return "ratio"
    return "count"


def run(spark, name: str, seed: int, seconds: float, work: Path, tracer) -> tuple[dict, dict, object]:
    setup_spans = list(tracer.spans) if tracer else []
    r = Run(spark, name, seed, work, tracer)
    try:
        if tracer is None:
            metrics, detail = end_to_end(r, seconds)
            out = {**r.result(), "end_to_end": metrics}
        else:
            metrics, detail = per_layer(r, seconds, setup_spans)
            out = {**r.result(), "per_layer": metrics}
    finally:
        r.orc.close()
    detail["inputs"] = r.facts
    detail["problems"] = r.problems[:20]
    return out, detail, r.spark
