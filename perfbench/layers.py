"""Per-layer counters read from Spark's own status surfaces.

Read only after a timed region: the core status store (jobs and
stages), the SQL status store (per-operator SQL metrics of the Python
execs), each statement's ``QueryPlanningTracker`` and the streaming
queries' ``recentProgress``. A pass owns the jobs and SQL executions
whose ids fall between its start and end marks; passes run one at a
time, and each pass also sets its own job group.
"""

from __future__ import annotations

import json
import re

_PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('1.8 s', '334.4 KiB', '20,000', or the
    'total (min, med, max ...)' form) → ms, bytes or a count."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.core = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until every listener event so far reached the stores."""
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(highest job id, SQL execution count) right now."""
        self.drain()
        jobs = self.core.jobsList(None)  # newest first
        top = jobs.head().jobId() if jobs.nonEmpty() else -1
        return top, int(self.sql.executionsCount())

    def jobs_between(self, lo: int, hi: int) -> dict[str, float]:
        out = dict.fromkeys(["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
                             "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.jvm_gc_ms",
                             "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
                             "spark.shuffle_write_bytes"], 0.0)
        intervals = []
        stages = set()
        for job_id in range(lo + 1, hi + 1):
            try:
                job = self.core.job(job_id)
            except Exception:  # evicted or never registered
                continue
            out["spark.jobs"] += 1
            stages.update(self.conv.asJava(job.stageIds()))
        for sid in sorted(stages):
            try:
                st = self.core.lastStageAttempt(sid)
            except Exception:
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.failed_tasks"] += st.numFailedTasks()
            out["spark.executor_run_ms"] += st.executorRunTime()
            out["spark.executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["spark.jvm_gc_ms"] += st.jvmGcTime()
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.output_bytes"] += st.outputBytes()
            out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            sub, end = st.submissionTime(), st.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime(), end.get().getTime()))
        cores = self.spark.sparkContext.defaultParallelism
        wall = _union_ms(intervals)
        out["spark.slot_idle_ratio"] = (
            1.0 - out["spark.executor_run_ms"] / (wall * cores) if wall > 0 else 0.0)
        return out

    def python_between(self, lo: int, hi: int) -> dict[str, float]:
        out = dict.fromkeys([*_PY_METRICS.values(), "python.rows_received"], 0.0)
        if hi <= lo:
            return out
        for ex in self.conv.asJava(self.sql.executionsList(lo, hi - lo)):
            eid = ex.executionId()
            # one call per execution: the plan graph rendered with its metric values
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            for node, metrics in parse_plan_dot(dot):
                python_node = "Python" in node or "Pandas" in node or "Arrow" in node
                for name, text in metrics.items():
                    key = _PY_METRICS.get(name)
                    if key is None and python_node and name == "number of output rows":
                        key = "python.rows_received"
                    if key is not None:
                        out[key] += parse_metric(text)
        return out


_NODE_RE = re.compile(r'labelType="html" label="(.*?)" tooltip=')
_TOTAL_SUFFIX = " total (min, med, max (stageId: taskId))"


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, str]]]:
    """Operator name → {metric name: formatted value} for each node of a
    plan graph rendered by ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for label in _NODE_RE.findall(dot):
        parts = [x for x in label.split("<br>") if x]
        if not parts:
            continue
        name = re.sub(r"</?b>", "", parts[0])
        metrics: dict[str, str] = {}
        i = 1
        while i < len(parts):
            item = parts[i]
            if item.endswith(_TOTAL_SUFFIX) and i + 1 < len(parts):
                metrics[item[: -len(_TOTAL_SUFFIX)]] = parts[i + 1]
                i += 2
                continue
            key, sep, value = item.rpartition(": ")
            if sep:
                metrics[key] = value
            i += 1
        nodes.append((name, metrics))
    return nodes


def plan_ms(frames: list) -> float:
    """Catalyst time (parse, analysis, optimization, planning phases of
    each statement's QueryPlanningTracker) over ``frames``."""
    total = 0.0
    for df in frames:
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.valuesIterator()
            while it.hasNext():
                total += it.next().durationMs()
        except Exception:  # a frame from a stopped session
            continue
    return total


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur = 0, None
    for lo, hi in sorted(intervals):
        if cur is None or lo > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur:
        total += cur[1] - cur[0]
    return float(total)


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def streaming_counts(progs: list[dict]) -> dict[str, float]:
    """Sums over the micro-batches of ``progs`` (final values for the
    state size and memory)."""
    out = dict.fromkeys(STREAMING_KEYS, 0.0)
    total_rows_seen = 0.0
    for p in progs:
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.input_rows"] += p.get("numInputRows", 0)
        out["streaming.trigger_ms"] += d.get("triggerExecution", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.query_planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.wal_commit_ms"] += d.get("walCommit", 0)
        out["streaming.commit_offsets_ms"] += d.get("commitOffsets", 0)
        out["streaming.latest_offset_ms"] += d.get("latestOffset", 0)
        ops = p.get("stateOperators", [])
        out["streaming.state_rows_updated"] += sum(o.get("numRowsUpdated", 0) for o in ops)
        out["streaming.state_rows_removed"] += sum(o.get("numRowsRemoved", 0) for o in ops)
        out["streaming.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["streaming.state_rows_dropped_late"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        total_rows_seen += sum(o.get("numRowsTotal", 0) for o in ops)
        out["streaming.state_rows_total"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out["streaming.state_memory_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
    out["streaming.state_update_ratio"] = (
        out["streaming.state_rows_updated"] / total_rows_seen if total_rows_seen else 0.0)
    return out


STREAMING_KEYS = [
    "streaming.batches", "streaming.input_rows", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.latest_offset_ms",
    "streaming.state_rows_total", "streaming.state_rows_updated",
    "streaming.state_rows_removed", "streaming.state_memory_bytes",
    "streaming.state_commit_ms", "streaming.state_rows_dropped_late",
    "streaming.state_update_ratio",
]
