"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The event-log test starts a small local Spark session (about 20 s).
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# ---------------------------------------------------------------- stats

def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]
    value, pct, beyond = stats.tail(xs)
    assert (value, pct, beyond) == (30.0, 75, 10)


def test_tail_of_odd_count_picks_highest_qualifying_percentile():
    # 27 samples: p62 leaves 27 - ceil(16.74) = 10 beyond, p63 only 9
    xs = [float(i) for i in range(1, 28)]
    assert stats.tail(xs) == (17.0, 62, 10)


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100, 0)


def test_nearest_rank_and_median():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(xs, 50) == 3.0
    assert stats.nearest_rank(xs, 100) == 5.0
    assert stats.median(xs) == 3.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_per_op_median_of_a_facade_sequence_sums_its_calls_medians():
    import run

    steady = [
        {"name": "facade_seq0", "latency": 6.0, "calls": {"a": 1.0, "b": 5.0}},
        {"name": "facade_seq0", "latency": 4.0, "calls": {"a": 3.0, "b": 1.0}},
        {"name": "facade_seq0", "latency": 9.0, "calls": {"a": 2.0, "b": 7.0}},
        {"name": "q01", "latency": 1.0}, {"name": "q01", "latency": 2.0},
        {"name": "q01", "latency": 10.0},
        {"name": "q01", "latency": 0.1, "error": "boom"},
    ]
    # a = median(1, 3, 2) = 2, b = median(5, 1, 7) = 5; q01 skips the error
    assert run.per_op_medians(steady) == {"facade_seq0": 7.0, "q01": 2.0}


# ---------------------------------------------------------------- inputs

def test_facade_records_are_deterministic_per_seed():
    a = datagen.facade_records(1200, seed=5)
    assert a == datagen.facade_records(1200, seed=5)
    assert a != datagen.facade_records(1200, seed=6)
    assert a[-1]["late"] == "late-row"
    assert all(r["late"].isdigit() for r in a[:1000])
    assert max(len(r["note"]) for r in a) >= 8000
    assert any(r["city"] == "nil" for r in a) and any(r["city"] == "" for r in a)
    assert any(abs(int(r["big"])) >= 2**31 for r in a)


def test_facade_records_must_exceed_the_guessing_sample():
    with pytest.raises(ValueError):
        datagen.facade_records(1000, seed=1)


def test_tables_are_deterministic_per_seed():
    a = datagen.make_tables(0.001, seed=3)
    b = datagen.make_tables(0.001, seed=3)
    c = datagen.make_tables(0.001, seed=4)
    assert set(a) == set(datagen.TABLES)
    for name in ("lineitem", "documents", "events"):
        assert a[name].equals(b[name])
        assert not a[name].equals(c[name])


# ---------------------------------------------------------------- checks

def _digest(cols: dict) -> tuple:
    return checks.table_digest(pa.table(cols))


def test_digest_ignores_row_order_and_column_case():
    a = _digest({"X": [1, 2, 3], "y": ["a", "b", None]})
    b = _digest({"y": [None, "b", "a"], "x": [3, 2, 1]})
    assert checks.compare_digests(a, b) is None


def test_digest_keeps_int_float_and_null_nan_apart():
    ints = _digest({"v": pa.array([9], pa.int64())})
    floats = _digest({"v": pa.array([9.0], pa.float64())})
    assert checks.compare_digests(ints, floats)
    nulls = _digest({"v": pa.array([None], pa.float64())})
    nans = _digest({"v": pa.array([float("nan")], pa.float64())})
    assert checks.compare_digests(nulls, nans)


def test_digest_rounds_floats_to_six_places():
    a = _digest({"v": [0.1 + 0.2, -0.0]})
    b = _digest({"v": [0.3, 0.0]})
    assert checks.compare_digests(a, b) is None
    assert checks.compare_digests(a, _digest({"v": [0.3001, 0.0]}))


# ---------------------------------------------------------------- tracing

def test_self_time_subtracts_children():
    spans = [
        tracing.Span("op", 0.0, 10.0, None, "op1"),
        tracing.Span("build", 1.0, 4.0, 0, "op1"),
        tracing.Span("lineage.checkpoint", 2.0, 3.0, 1, "op1"),
        tracing.Span("materialize", 5.0, 9.0, 0, "op1"),
    ]
    got = tracing.self_times(spans)
    assert got == {("op1", "op"): 3.0, ("op1", "build"): 2.0,
                   ("op1", "lineage.checkpoint"): 1.0, ("op1", "materialize"): 4.0}


def test_rolling_event_files_are_read_in_index_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in tracing.event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_event_log_parser_on_a_tiny_trace(tmp_path):
    from data_table_spark.session import get_spark

    import __spark_entry__

    data = tmp_path / "data"
    datagen.write_tables(str(data), 0.001, seed=1)
    log = tmp_path / "eventlog"
    log.mkdir()
    spark = get_spark(
        app_name="perfbench-test", master="local[2]", shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log),
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
        },
    )
    try:
        spark.sparkContext.setJobGroup("op1:materialize", "t", False)
        df = __spark_entry__.queries()["q12_group_agg"](spark, str(data))
        assert df.toArrow().num_rows > 0
        plan = tracing.plan_stats(df)
        assert plan["plan.exchanges"] >= 1 and plan["plan.optimization_ms"] >= 0
    finally:
        spark.stop()
    jobs, stages = tracing.parse_event_log(str(log))
    grouped = tracing.exec_by_group(jobs, stages, nproc=2)
    m = grouped["op1:materialize"]
    assert m["exec.jobs"] >= 1 and m["exec.stages"] >= 1
    assert m["exec.tasks"] >= m["exec.stages"]
    assert m["exec.task_run_s"] > 0 and m["exec.s"] > 0
    assert m["registry.scan_tasks"] >= 1
    assert m["exec.shuffle_write_mb"] > 0
