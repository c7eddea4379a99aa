"""The four workloads: a 2×2 grid of Python workers (yes/no) × keyed
state (yes/no), each driven through ``SqlSubmitAction(...).run()``.

============  ==============  ==========
workload      Python workers  keyed state
============  ==============  ==========
batch_sql     no              no
batch_match   yes             no
stream_agg    no              yes (JVM)
stream_cep    yes             yes (Python)
============  ==============  ==========

``batch_match`` runs and is checked like the others, but it is not in
``BENCHMARK.json``: four workloads do not fit its run budget with
enough warm passes per run (see README.md).
"""

from __future__ import annotations

import shutil
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from perfbench import gen, layers, oracle

SQL_DIR = Path(__file__).resolve().parent / "sql"
WATERMARK_DELAY = "5 seconds"
#: a stream still running after this long is stopped (and fails its check)
STREAM_TIMEOUT_S = 60.0
#: streaming uv is approx_count_distinct (HLL++, rsd 0.05). Per group it
#: may be off by 25 % or 3 users (Spark's own batch approx_count_distinct
#: reaches 17.5 % on ~40-user groups of these inputs); summed over all
#: groups by 5 % (measured: at most 2.0 % over 40 seeds). A uv that
#: counted rows instead of users would be ~30 % high on both.
UV_TOLERANCE = 0.25
UV_BIAS = 0.05

TPCH = gen.TpchSizes(orders=40_000, documents=2_000, dup_share=0.15)
EVENTS_BATCH = gen.EventSizes(files=1, rows_per_file=15_000, users=1_500, zipf_s=1.1,
                              mix=(0.4, 0.35, 0.15, 0.1), dims=10, minutes=100,
                              disorder_share=0.2)
EVENTS_STREAM = gen.EventSizes(files=3, rows_per_file=5_000, users=1_500, zipf_s=1.1,
                               mix=(0.4, 0.35, 0.15, 0.1), dims=10, minutes=30,
                               disorder_share=0.2)


@dataclass
class Pass:
    index: int
    wall_s: float = 0.0
    latencies_ms: list[float] = field(default_factory=list)
    statements: int = 0
    batches: int = 0
    failed: int = 0
    error: str | None = None
    progress: list[dict] = field(default_factory=list)
    out: Path | None = None
    watermark_ms: int | None = None


@dataclass
class Workload:
    name: str
    streaming: bool

    @property
    def script(self) -> str:
        return (SQL_DIR / f"{self.name}.sql").read_text()

    # ------------------------------------------------------------ inputs

    def generate(self, seed: int, data: Path) -> dict:
        """Write this workload's inputs under ``data``; returns the
        input facts (layout, sizes, rows)."""
        if self.name == "batch_sql":
            rows = gen.write_tables(gen.tpch(seed, TPCH), data)
            return {"sizes": asdict(TPCH), "rows": rows,
                    "input_rows": sum(rows.values())}
        sizes = EVENTS_STREAM if self.streaming else EVENTS_BATCH
        table = gen.events(seed, sizes)
        if self.streaming:
            n = gen.write_events_stream(table, data / "events")
        else:
            n = gen.write_events_batch(table, data / "events.parquet")
        minute = table.column("ts").cast("int64").to_numpy() // 60_000_000
        groups = len(set(zip(table.column("dim").to_pylist(), minute.tolist())))
        return {"sizes": asdict(sizes), "rows": {"events": n}, "input_rows": n,
                "agg_state_groups": groups,
                "files_x_rows": f"{sizes.files}x{sizes.rows_per_file}"}

    def inputs(self, data: Path) -> dict[str, Path]:
        if self.name == "batch_sql":
            return {t: data / f"{t}.parquet" for t in ("lineitem", "orders", "customer", "documents")}
        return {"events": data / ("events" if self.streaming else "events.parquet")}

    # -------------------------------------------------------------- pass

    def register_stream(self, spark, data: Path) -> None:
        """``events_src``: the event files as a stream, one file per
        micro-batch, watermarked 5 s behind ``row_time``."""
        from pyspark.sql import functions as F

        src = data / "events"
        schema = spark.read.parquet(str(next(src.glob("*.parquet")))).schema
        (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
         .withColumnRenamed("ts", "row_time")
         .withWatermark("row_time", WATERMARK_DELAY)
         .withColumn("ts_us", F.expr("unix_micros(row_time)"))
         .createOrReplaceTempView("events_src"))

    def run_pass(self, spark, data: Path, work: Path, index: int, frames: list | None = None,
                 tracer=None) -> Pass:
        from flink_commons_spark.actions.sql_submit import SqlSubmitAction
        from flink_commons_spark.plans.statements import StatementType

        p = Pass(index, out=work / f"out-{index}")
        if self.streaming:
            self.register_stream(spark, data)
        action = SqlSubmitAction(
            sql_text=self.script, spark=spark, stream_timeout_s=STREAM_TIMEOUT_S,
            variables={"data": str(data), "out": str(p.out), "ckpt": str(work / f"ckpt-{index}")})
        dispatch = action._dispatch
        timed = (StatementType.INSERT, StatementType.SELECT)

        def timed_dispatch(sp, stype, stmt):
            p.statements += 1
            t0 = time.perf_counter()
            try:
                return dispatch(sp, stype, stmt)
            except Exception:
                p.failed += 1
                raise
            finally:
                if stype in timed and not self.streaming:
                    p.latencies_ms.append((time.perf_counter() - t0) * 1e3)

        action._dispatch = timed_dispatch
        sql = spark.sql
        if frames is not None:
            def recording_sql(*args, **kwargs):
                df = sql(*args, **kwargs)
                frames.append(df)
                return df

            spark.sql = recording_sql
        spark.sparkContext.setJobGroup(f"perfbench-{self.name}-{index}", "perfbench pass")
        span = tracer.begin("actions.run") if tracer else None
        t0 = time.perf_counter()
        try:
            action.run()
        except Exception as exc:  # counted, reported, and the run is marked incorrect
            p.error = f"{type(exc).__name__}: {exc}"[:2000]
            p.failed = max(p.failed, 1)
        finally:
            p.wall_s = time.perf_counter() - t0
            if span is not None:
                tracer.end(span)
            if frames is not None:
                del spark.sql
            for q in action._started_queries:
                if q.isActive:
                    q.stop()
        for q in action._started_queries:
            p.progress.extend(layers.progress(q))
            if q.exception() is not None:
                p.failed += 1
                p.error = p.error or str(q.exception())[:2000]
        data_batches = [g for g in p.progress if g.get("numInputRows", 0) > 0]
        p.batches = len(data_batches)
        if self.streaming:
            p.latencies_ms = [float(g["durationMs"]["triggerExecution"]) for g in data_batches]
            wms = [g.get("eventTime", {}).get("watermark") for g in p.progress]
            wms = [w for w in wms if w]
            if wms:
                from datetime import datetime

                p.watermark_ms = int(datetime.fromisoformat(wms[-1].replace("Z", "+00:00"))
                                     .timestamp() * 1000)
        return p

    # ------------------------------------------------------------- checks

    def sinks(self) -> dict[str, str]:
        """Sink directory name → the DuckDB oracle for it."""
        if self.name == "batch_sql":
            return dict(oracle.BATCH_SQL)
        if self.name == "batch_match":
            return dict(oracle.BATCH_MATCH)
        if self.name == "stream_agg":
            return {"order_stat": oracle.STREAM_AGG}
        return {"funnel": None}  # depends on the pass's final watermark

    def check(self, orc: oracle.Oracle, p: Pass) -> list[str]:
        """Compare every sink of pass ``p``; returns the mismatches."""
        problems = []
        for sink, sql in self.sinks().items():
            path = p.out / sink
            if not path.exists():
                problems.append(f"{sink}: no output written")
                continue
            try:
                if self.name == "stream_agg":
                    problems += self._check_agg(orc, path, sql)
                    continue
                if self.name == "stream_cep":
                    if p.watermark_ms is None:
                        problems.append(f"{sink}: the stream reported no watermark")
                        continue
                    want = orc.expected(f"{sink}@{p.watermark_ms}", oracle.stream_cep_sql(p.watermark_ms))
                else:
                    want = orc.expected(sink, sql)
                if err := oracle.compare(sink, want, orc.actual(path)):
                    problems.append(err)
            except Exception as exc:
                problems.append(f"{sink}: check failed: {type(exc).__name__}: {exc}"[:2000])
        return problems

    def _check_agg(self, orc: oracle.Oracle, path: Path, sql: str) -> list[str]:
        """pv, sum, max and min exactly; uv within HLL++ error. The sink
        is a keyed changelog: its state is the latest batch per key."""
        final = """SELECT * EXCLUDE (__batch) FROM sink
                   QUALIFY row_number() OVER (PARTITION BY dim, window_start ORDER BY __batch DESC) = 1"""
        got = orc.actual(path, f"SELECT dim, pv, sum_price, max_price, min_price, window_start FROM ({final})")
        want = orc.expected("order_stat", f"SELECT dim, pv, sum_price, max_price, min_price, window_start FROM ({sql})")
        problems = [e for e in [oracle.compare("order_stat", want, got)] if e]
        pairs = f"SELECT g.dim, g.window_start, g.uv AS got, w.uv AS want FROM ({final}) g JOIN ({sql}) w USING (dim, window_start)"
        bad = orc.con.sql(f"SELECT * FROM ({pairs}) WHERE abs(got - want) > greatest(3, {UV_TOLERANCE} * want)").fetchall()
        if bad:
            problems.append(f"order_stat: {len(bad)} groups with uv outside the HLL++ "
                            f"tolerance, e.g. (dim, minute, uv, exact uv) {bad[0]}")
        bias = orc.con.sql(f"SELECT sum(got) / sum(want) - 1 FROM ({pairs})").fetchone()[0]
        if abs(bias) > UV_BIAS:
            problems.append(f"order_stat: uv summed over groups is off by {bias:+.1%}")
        return problems


WORKLOADS = {w.name: w for w in [
    Workload("batch_sql", streaming=False),
    Workload("batch_match", streaming=False),
    Workload("stream_agg", streaming=True),
    Workload("stream_cep", streaming=True),
]}


def clean(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
