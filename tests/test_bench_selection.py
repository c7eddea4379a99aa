"""``bench.py``'s query selection: which queries a run times, in what
order. Pure functions over catalog names — no Spark session."""

from __future__ import annotations

import pytest

import bench
from flink_commons_spark import catalog

CATALOG = list(catalog.QUERIES)


def test_interleave_spreads_streams_and_keeps_family_order():
    names = ["b1", "stream_a", "b2", "b3", "stream_b", "b4"]
    assert bench._interleave(names) == ["b1", "b2", "stream_a", "b3", "b4", "stream_b"]
    assert bench._interleave(["stream_a", "stream_b"]) == ["stream_a", "stream_b"]


def test_no_arguments_is_the_full_headline_run():
    names = bench.select_queries([], CATALOG)
    full = bench.HEADLINE + [n for n in CATALOG if n not in bench.HEADLINE]
    assert names == bench._interleave(full)
    assert sorted(names) == sorted(set(full)) and set(CATALOG) <= set(names)
    # within each family the run keeps HEADLINE order, then catalog order
    assert [n for n in names if not n.startswith("stream_")] == [
        n for n in full if not n.startswith("stream_")]
    assert [n for n in names if n.startswith("stream_")] == [
        n for n in full if n.startswith("stream_")]
    assert names[0] == "q1_pricing_summary"
    # streams are spread out: never two in a row while batches remain
    pairs = zip(names, names[1:])
    assert not any(a.startswith("stream_") and b.startswith("stream_") for a, b in pairs)


def test_prefix_expands_in_catalog_order():
    names = bench.select_queries(["@stream_match", "q1_pricing_summary"], CATALOG)
    matches = [n for n in CATALOG if n.startswith("stream_match")]
    assert len(matches) > 1
    assert names == matches + ["q1_pricing_summary"]


def test_repeated_selection_times_each_query_once():
    assert bench.select_queries(["q1_pricing_summary", "@q1_pricing"], CATALOG) == [
        "q1_pricing_summary"]


@pytest.mark.parametrize("arg", ["no_such_query", "@no_such_prefix"])
def test_selection_that_matches_nothing_exits_naming_it(arg):
    with pytest.raises(SystemExit) as exc:
        bench.select_queries(["q1_pricing_summary", arg], CATALOG)
    assert exc.value.code != 0 and arg in str(exc.value.code)
