"""Unit tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats, tracing  # noqa: E402


# ------------------------------------------------------------ tail choice
@pytest.mark.parametrize("n, pct", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_value_and_count():
    vals = list(range(1, 101))  # 100 samples -> p90
    value, pct, n = stats.tail(vals)
    assert (pct, n) == (90.0, 100)
    assert value == pytest.approx(90.1)
    assert sum(v > value for v in vals) == 10
    assert stats.tail([1.0] * 5) == (None, None, 5)


# ------------------------------------------------------------ commit lag
def test_commit_lag_counts_from_due_time():
    due = {3: 100.0, 4: 103.0}
    committed = {3: 102.5, 4: 103.25, 9: 200.0}  # epoch 9 was never published
    assert stats.commit_lags(due, committed) == {3: 2.5, 4: 0.25}


def test_commit_lag_rejects_missing_and_negative():
    with pytest.raises(ValueError, match="never committed"):
        stats.commit_lags({1: 0.0, 2: 1.0}, {1: 0.5})
    with pytest.raises(ValueError, match="before publish"):
        stats.commit_lags({1: 5.0}, {1: 4.0})


# ------------------------------------------------------------ table hash
def _pages():
    return pd.DataFrame({
        "url": ["https://a/1", "https://a/2", "https://b/3"],
        "warc_ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:02",
                                   "2024-01-01 00:00:03"]),
        "text": ["T1\nalpha", "T2\nbeta", "T3\ngamma"],
        "lang": ["en", "de", "fr"],
        "html": [b"x", b"y", b"z"],  # not hashed
    })


def test_table_hash_ignores_row_order_and_other_columns():
    a = _pages()
    b = a.iloc[[2, 0, 1]].reset_index(drop=True).drop(columns="html")
    assert stats.table_hash(a) == stats.table_hash(b)
    assert stats.table_hash(a)[0] == 3


def test_table_hash_sees_one_changed_byte_and_duplicates():
    a = _pages()
    b = a.copy()
    b.loc[1, "text"] = "T2\nbetA"
    assert stats.table_hash(a)[1] != stats.table_hash(b)[1]
    dup = pd.concat([a, a.iloc[[0]]], ignore_index=True)
    assert stats.table_hash(dup)[0] == 4
    assert stats.table_hash(dup)[1] != stats.table_hash(a)[1]


def test_table_hash_treats_naive_and_utc_timestamps_alike():
    a = _pages()
    b = a.copy()
    b["warc_ts"] = b["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    assert stats.table_hash(a) == stats.table_hash(b)


# ------------------------------------------------------------ span self time
def _span(id_, start, end, parent=None, thread="main", layer="x"):
    return {"id": id_, "name": f"s{id_}", "layer": layer, "start": start,
            "end": end, "parent": parent, "thread": thread}


def test_self_time_subtracts_union_of_same_thread_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),
        _span(3, 3.0, 5.0, parent=1),  # overlaps 2: union is [1, 5]
        _span(4, 8.0, 12.0, parent=1),  # ends after its parent: clipped to [8, 10]
        _span(5, 0.0, 10.0, parent=1, thread="reader"),  # concurrent, not blocking
        _span(6, 1.5, 2.0, parent=2),
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(10.0)
    assert st[6] == pytest.approx(0.5)


def test_layer_table_splits_main_and_other_threads():
    spans = [_span(1, 0, 10, layer="perfbench"),
             _span(2, 0, 6, parent=1, layer="lake.table"),
             _span(3, 2, 9, parent=1, thread="reader", layer="lake.table")]
    rows, self_s = tracing.layer_table(spans, {}, wall_s=10.0, main_thread="main")
    assert self_s == {"perfbench": pytest.approx(4.0), "lake.table": pytest.approx(6.0)}
    lake = next(r for r in rows if r["layer"] == "lake.table")
    assert lake["other_threads_self_s"] == pytest.approx(7.0)
    assert lake["self_share_of_wall"] == pytest.approx(0.6)


def test_untagged_jobs_go_to_innermost_main_span_open_at_submit():
    spans = [_span(1, 0, 10), _span(2, 2, 6, parent=1),
             _span(3, 2, 6, parent=1, thread="reader")]
    jobs = {0: {"desc": "span=3 lake.lookup", "submit": 3.0, "stages": []},
            1: {"desc": None, "submit": 3.0, "stages": []},
            2: {"desc": "Listing leaf files", "submit": 7.0, "stages": []},
            3: {"desc": None, "submit": 11.0, "stages": []}}
    got = tracing.attribute_jobs(spans, jobs, "main")
    assert got == {3: [0], 2: [1], 1: [2], None: [3]}


# ------------------------------------------------------------ BENCHMARK.json
def test_benchmark_spec_is_within_its_limits():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for m in spec["workloads"] + spec["end_to_end"] + spec["per_layer"]]
    assert all(name.match(n) for n in names)
    assert len(names) == len(set(names))
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
               and unit.match(m["unit"]) for m in spec["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} and unit.match(m["unit"])
               for m in spec["per_layer"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= spec["run_seconds"] <= 60
