"""The benchmark's own checks: percentile rule, span arithmetic, tree
pinning, generator determinism, and the status-surface parsers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import pytest

from perfbench import gen, layers, stats, tracing, tree


# ------------------------------------------------------------- percentiles


@pytest.mark.parametrize("n, want", [(1000, 90), (100, 90), (50, 80), (25, 60), (20, 50), (3, 50)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_percentile_never_claims_fewer_than_ten_beyond():
    for n in range(20, 400):
        p = stats.tail_percentile(n)
        assert n * (1 - p / 100) >= stats.TAIL_MIN_BEYOND - 1e-9


def test_percentile_interpolates():
    xs = [float(x) for x in range(1, 11)]
    assert stats.percentile(xs, 50) == 5.5
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 10.0
    assert stats.percentile(list(reversed(xs)), 90) == pytest.approx(9.1)


# ------------------------------------------------------------------- spans


def _span(i, parent, lo, hi, name="s"):
    return tracing.Span(i, name, "r", parent, lo, hi)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(1, None, 0, 100),
        _span(2, 1, 10, 30),
        _span(3, 1, 20, 50),     # overlaps span 2: covered once
        _span(4, 1, 90, 120),    # runs past the parent: clipped at 100
        _span(5, 2, 12, 14),     # grandchild: only span 2's self time
    ]
    selfs = tracing.self_times_ns(spans)
    assert selfs[1] == 100 - (50 - 10) - (100 - 90)
    assert selfs[2] == 20 - 2
    assert selfs[3] == 30
    assert selfs[5] == 2


def test_leaf_self_time_is_duration():
    assert tracing.self_times_ns([_span(1, None, 5, 9)]) == {1: 4}


def test_tracer_nests_and_totals():
    tr = tracing.Tracer(run_id="t")
    outer = tr.begin("outer")
    inner = tracing.Tracer.wrap(tr, lambda: [1, 2, 3], "inner")
    assert inner() == [1, 2, 3]
    tr.end(outer)
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].span_id
    assert by_name["inner"].count == 3
    totals = tracing.totals_ms(tr.spans)
    assert totals["outer"]["self_ms"] <= totals["outer"]["total_ms"]


def test_install_wraps_import_sites_and_uninstall_restores():
    import flink_commons_spark.actions.sql_submit as sub
    import flink_commons_spark.plans.dialect as dialect

    tr = tracing.Tracer(run_id="t")
    tr.install()
    try:
        assert sub.adapt_sql is not dialect.adapt_sql
        assert sub.adapt_sql("SELECT 1") == dialect.adapt_sql("SELECT 1")
        assert [s.name for s in tr.spans] == ["plans.adapt_sql"]
    finally:
        tr.uninstall()
    assert sub.adapt_sql is dialect.adapt_sql


# -------------------------------------------------------------------- tree


def test_tree_accepts_package_under_root(tmp_path):
    pkg = tmp_path / tree.PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    assert tree.check_module_file(str(pkg / "__init__.py"), tmp_path) == (pkg / "__init__.py").resolve()


def test_tree_refuses_package_elsewhere(tmp_path):
    other = tmp_path / "elsewhere" / tree.PACKAGE / "__init__.py"
    with pytest.raises(tree.TreeError):
        tree.check_module_file(str(other), tmp_path / "checkout")
    with pytest.raises(tree.TreeError):
        tree.check_module_file(None, tmp_path)


def test_pin_refuses_a_tree_without_the_package(tmp_path):
    with pytest.raises(tree.TreeError):
        tree.pin(tmp_path)


def test_this_checkout_is_pinned():
    import flink_commons_spark

    tree.check_module_file(flink_commons_spark.__file__, tree.ROOT)


# --------------------------------------------------------------- generator

_SMALL_TPCH = gen.TpchSizes(orders=500, documents=60, dup_share=0.2)
_SMALL_EVENTS = gen.EventSizes(files=3, rows_per_file=200, users=50, zipf_s=1.1,
                               mix=(0.4, 0.35, 0.15, 0.1), dims=4, minutes=6,
                               disorder_share=0.3)


def _digest(root: Path) -> dict[str, str]:
    return {str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(root.rglob("*.parquet"))}


def _generate(seed: int, out: Path) -> dict[str, str]:
    gen.write_tables(gen.tpch(seed, _SMALL_TPCH), out)
    ev = gen.events(seed, _SMALL_EVENTS)
    gen.write_events_stream(ev, out / "events")
    gen.write_events_batch(ev, out / "events.parquet")
    return _digest(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate(7, tmp_path / "a")
    b = _generate(7, tmp_path / "b")
    assert a == b and len(a) == 8


def test_other_seed_gives_other_inputs(tmp_path):
    assert _generate(7, tmp_path / "a") != _generate(8, tmp_path / "b")


def test_events_are_never_later_than_the_watermark_allows():
    ev = gen.events(3, _SMALL_EVENTS).to_pydict()
    ts = [t.timestamp() * 1000 for t in ev["ts"]]
    seen_max = {}
    for f, t in zip(ev["file"], ts):
        seen_max[f] = max(seen_max.get(f, t), t)
    for f, t in zip(ev["file"], ts):
        if f > 0:
            # the watermark after file f-1 is its max event time minus 5 s
            assert t > max(seen_max[g] for g in range(f)) - 5_000


def test_duplicate_documents_normalize_equal():
    docs = gen.documents(5, _SMALL_TPCH).column("text").to_pylist()
    norm = [" ".join(t.lower().split()) for t in docs]
    assert len(set(norm)) < len(norm)


# ------------------------------------------------------------ status parsers


@pytest.mark.parametrize("text, value", [
    ("1.8 s", 1800.0), ("297 ms", 297.0), ("334.4 KiB", 334.4 * 1024), ("20,000", 20000.0),
    ("total (min, med, max (stageId: taskId))\n607 ms (148 ms, 153 ms, 157 ms (stage 0.0: task 3))", 607.0),
])
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def test_parse_plan_dot():
    dot = ('1 [id="node1" labelType="html" label="<b>FlatMapGroupsInPandas</b><br><br>'
           'time to run Python workers: 2.0 s<br>number of output rows: 20,000" tooltip="x"];\n'
           '5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>data size total '
           '(min, med, max (stageId: taskId))<br>625.0 KiB (1 KiB, 2 KiB, 3 KiB (stage 0.0: task 2))'
           '<br>records read: 20,000" tooltip="y"];')
    nodes = dict(layers.parse_plan_dot(dot))
    assert nodes["FlatMapGroupsInPandas"] == {"time to run Python workers": "2.0 s",
                                              "number of output rows": "20,000"}
    assert layers.parse_metric(nodes["Exchange"]["data size"]) == pytest.approx(625 * 1024)


def test_streaming_counts_sum_batches():
    progs = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 5, "addBatch": 3},
         "stateOperators": [{"numRowsTotal": 4, "numRowsUpdated": 4, "memoryUsedBytes": 100}]},
        {"numInputRows": 10, "durationMs": {"triggerExecution": 7, "addBatch": 4},
         "stateOperators": [{"numRowsTotal": 6, "numRowsUpdated": 2, "memoryUsedBytes": 150}]},
    ]
    c = layers.streaming_counts(progs)
    assert c["streaming.batches"] == 2 and c["streaming.input_rows"] == 20
    assert c["streaming.trigger_ms"] == 12 and c["streaming.add_batch_ms"] == 7
    assert c["streaming.state_rows_total"] == 6 and c["streaming.state_memory_bytes"] == 150
    assert c["streaming.state_update_ratio"] == pytest.approx(6 / 10)


# ------------------------------------------------------------ output check


def _result(rows):
    import duckdb

    from perfbench import oracle

    con = duckdb.connect()
    return oracle.summarize(con.sql(
        "SELECT * FROM (VALUES " + ", ".join(f"({k}, '{s}', {x!r})" for k, s, x in rows) + ") t(k, s, x)"))


def test_compare_accepts_last_digit_rounding_only():
    from perfbench import oracle

    want = _result([(1, "a", 0.698913), (2, "b", 0.5)])
    assert oracle.compare("t", want, _result([(2, "b", 0.5), (1, "a", 0.698913)])) is None
    assert oracle.compare("t", want, _result([(1, "a", 0.698912), (2, "b", 0.5)])) is None
    assert "differing row" in oracle.compare("t", want, _result([(1, "a", 0.6989), (2, "b", 0.5)]))
    assert "differing row" in oracle.compare("t", want, _result([(1, "z", 0.698913), (2, "b", 0.5)]))
    assert "rows" in oracle.compare("t", want, _result([(1, "a", 0.698913)]))
