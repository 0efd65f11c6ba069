"""Unit tests of the benchmark's pure helpers (no JVM needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# --- statistics --------------------------------------------------------------

def test_median_follows_statistics_module():
    vals = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.2, 11.1]
    assert stats.median(vals) == statistics.median(vals)
    assert stats.median([1.0, 3.0]) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


# --- checksums ---------------------------------------------------------------

def test_checksum_ignores_row_order_but_not_duplicates_or_values():
    rows = [(1, "a", 0.5), (2, None, 1.25), (3, "c", float("nan"))]
    n, h = stats.rows_checksum(rows)
    assert n == 3
    assert stats.rows_checksum(list(reversed(rows))) == (n, h)
    assert stats.rows_checksum(rows + rows[:1])[1] != h
    assert stats.rows_checksum([(1, "a", 0.5), (2, None, 1.25), (3, "c", 1.0)])[1] != h


def test_checksum_spells_equal_values_alike():
    # NULL and NaN are both missing; an integral float equals its int;
    # numpy arrays equal lists (Spark and DuckDB frames differ in these)
    np = pytest.importorskip("numpy")
    a = [(1, None, [1.0, 2.5]), (2, 3.0, None)]
    b = [(2, 3, float("nan")), (np.int64(1), float("nan"), np.array([1.0, 2.5]))]
    assert stats.rows_checksum(a) == stats.rows_checksum(b)


def test_frame_checksum_ignores_column_order():
    pd = pytest.importorskip("pandas")
    df = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    assert stats.frame_checksum(df) == stats.frame_checksum(df[["y", "x"]].iloc[::-1])


# --- metric names and the result line ------------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "spark.jobs", "queries.exec_s.pip_assign",
                                  "0x", "a" * 64])
def test_good_names(name):
    assert stats.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "a" * 65, "é"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        stats.check_name(name)


@pytest.mark.parametrize("unit,ok", [("ms", True), ("1/s", True), ("%", True),
                                     ("count", True), ("", False), ("a b", False),
                                     ("x" * 17, False)])
def test_units(unit, ok):
    if ok:
        assert stats.check_unit(unit) == unit
    else:
        with pytest.raises(ValueError):
            stats.check_unit(unit)


def test_result_line_shape():
    line = stats.result_line(True, 10, 0, {"job_s": (1.5, "s")})
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"] == {"job_s": {"value": 1.5, "unit": "s"}}
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {"x": (float("inf"), "s")})


def test_benchmark_json_names_are_valid_and_unique():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            stats.check_name(m["name"])
            stats.check_unit(m["unit"])
            names.append(m["name"])
    assert len(names) == len(set(names))
    assert {"setup_s"} <= {m["name"] for m in spec["end_to_end"]}


# --- spans and self time --------------------------------------------------------

def test_self_time_subtracts_children():
    t = tracing.Tracer()
    with t.span("outer", "a"):
        with t.span("inner", "b"):
            pass
    outer, inner = t.spans
    st = t.self_times()
    assert st["inner"] == pytest.approx(inner.dur)
    assert st["outer"] == pytest.approx(outer.dur - inner.dur)
    assert inner.parent == outer.sid


def test_layer_self_times_synthetic():
    S = tracing.Span
    spans = [S(0, "job", "j", None, 0.0, 10.0), S(1, "plans", "p", 0, 1.0, 7.0),
             S(2, "exports", "e", 0, 7.0, 9.0), S(3, "plans", "q", 1, 2.0, 3.0)]
    assert tracing.layer_self_times(spans) == pytest.approx(
        {"job": 2.0, "plans": 6.0, "exports": 2.0})


# --- event-log parsing ------------------------------------------------------------

def _task(stage, run, gc=0, sw=0, rr=0, lr=0, spill=0, sent=None):
    accs = [] if sent is None else [
        {"ID": 1, "Name": "data sent to Python workers", "Update": sent},
        {"ID": 2, "Name": "data returned from Python workers", "Update": "7"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run, "JVM GC Time": gc,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                             "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                                      "Local Bytes Read": lr},
                             "Disk Bytes Spilled": spill}}


def test_parse_event_log_groups_tasks_by_job_group():
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        _task(0, 100, gc=5, sw=1000),
        _task(1, 10, rr=400, lr=600, spill=50, sent=11),
        _task(1, 30),
        _task(1, 20),
        _task(2, 999),  # job without a group: dropped
    ]
    groups = tracing.parse_event_log(json.dumps(e) + "\n" for e in events)
    assert set(groups) == {"pb-3"}
    g = groups["pb-3"]
    assert g.jobs == {0} and g.stages == {0, 1} and g.tasks == 4
    assert g.run_ms == 160 and g.gc_ms == 5
    assert g.shuffle_write_b == 1000 and g.shuffle_read_b == 1000 and g.spill_b == 50
    assert g.py_sent_b == 11 and g.py_recv_b == 7
    assert g.task_skew() == pytest.approx(30 / 20)  # stage 1 is the widest


def test_task_skew_without_tasks():
    assert tracing.GroupStats().task_skew() == 1.0


# --- resources -----------------------------------------------------------------------

def test_heap_and_cores_come_from_the_machine(tmp_path, monkeypatch):
    harness = pytest.importorskip("harness")  # imports pyspark, starts no JVM
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:         1000 kB\n")
    assert harness.mem_total_mb(str(meminfo)) == 15625
    monkeypatch.setattr(harness, "mem_total_mb", lambda: 8000)
    monkeypatch.setattr(harness.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3, 4})
    assert harness.pinned_resources() == (2000, 2, 5)  # (heap MB, Spark cores, CPUs)
    monkeypatch.setattr(harness, "mem_total_mb", lambda: 64000)
    monkeypatch.setattr(harness.os, "sched_getaffinity", lambda pid: {0})
    assert harness.pinned_resources() == (3072, 1, 1)


# --- inputs ----------------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a = datagen.make_tables(3, 0.001)
    b = datagen.make_tables(3, 0.001)
    c = datagen.make_tables(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["documents"].equals(c["documents"])
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"])
