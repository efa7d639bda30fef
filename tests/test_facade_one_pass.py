"""Facade inference as one SQL-text plan over JVM-resident relations.

- driver-side facade tables are ``LocalRelation``s (Arrow-shipped), so a
  cell read runs no job and no job starts a Python worker;
- ``coerce_types`` guesses over the head sample and audits every row in
  ONE aggregate;
- the SQL-text twins in functions/cleaning.py, which those plans are built
  from, agree with their Column forms;
- ingest demotes to strings only on a type-inference failure;
- the ``_bang`` forms keep the row-count hint.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from data_table_spark.core import ROW_ID, DataTable
from data_table_spark.functions.cleaning import (
    relaxed_double,
    relaxed_double_sql,
    relaxed_long,
    relaxed_long_sql,
    trim_and_nullify,
    trim_and_nullify_sql,
    trim_whitespace,
    trim_whitespace_sql,
)
from data_table_spark.inference import BadTypeGuess, guess_types


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted by the status tracker under a
    fresh job group."""
    sc = spark.sparkContext
    group = f"facade-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker is fed by the listener bus; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _records(n: int, word_at: int | None = None) -> list[dict]:
    recs = [{"id": str(i), "n": str(i % 7), "amt": f"${i},000.50"} for i in range(n)]
    if word_at is not None:
        recs[word_at]["n"] = "seven"
    return recs


# ------------------------------------------------------- JVM-resident tables


def test_from_records_is_a_local_relation(spark):
    dt = DataTable.from_records(spark, _records(50))
    plan = dt.ordered_df._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # nullable longs stay longs (no float64 detour through pandas)
    big = DataTable.from_records(spark, [{"a": 2**63 - 1}, {"a": None}])
    assert big.column_types[0].simpleString() == "bigint"
    assert big.value(col="a") == [2**63 - 1, None]


def test_cell_read_runs_no_job(spark):
    typed = DataTable.from_records(spark, _records(50)).coerce_types()
    got = {}
    assert _jobs(spark, lambda: got.update(v=typed.value(7, "amt"))) == 0
    assert got["v"] == 7000.5


# ---------------------------------------------------------- one-pass coerce


def test_coerce_types_is_one_aggregate_past_the_sample(spark):
    """1500 rows > the 1000-row guess sample: the word at row 1200 is
    outside the sample, so ``n`` guesses as bigint, and the audit over
    every row (same aggregate) still demotes it to string."""
    dt = DataTable.from_records(spark, _records(1500, word_at=1200))
    assert dt.guess_types()["n"].simpleString() == "bigint"
    out = {}
    n_jobs = _jobs(spark, lambda: out.update(t=dt.coerce_types()))
    one_agg = _jobs(
        spark, lambda: dt.ordered_df.selectExpr("count(1)").collect()
    )
    assert n_jobs == one_agg
    types = {f.name: f.dataType.simpleString() for f in out["t"].df.schema.fields}
    assert types == {"id": "bigint", "n": "string", "amt": "double"}
    assert out["t"].value(1200, "n") == "seven"


@pytest.mark.parametrize(
    "word_at,guessed", [(999, "string"), (1000, "bigint")]
)
def test_guess_sample_boundary(spark, word_at, guessed):
    """Row 999 is the last row of the 1000-row head sample, row 1000 the
    first past it — for guess_types (limit) and for coerce_types'
    ``_row_id < 1000`` counters alike."""
    dt = DataTable.from_records(spark, _records(1200, word_at=word_at))
    assert dt.guess_types()["n"].simpleString() == guessed
    if guessed == "string":
        # guessed string: nothing to audit, nothing raises
        typed = dt.coerce_types(on_error="raise")
        assert typed.column_type("n").simpleString() == "string"
    else:
        # guessed bigint inside the one pass; its audit sees row 1000
        with pytest.raises(BadTypeGuess) as e:
            dt.coerce_types(on_error="raise")
        assert e.value.column == "n" and e.value.bad_count == 1


def test_reservoir_sample_guesses_like_the_head(spark):
    """The reservoir sample comes back as a local relation and is
    guessed by the same SQL-text aggregate."""
    df = DataTable.from_records(spark, _records(30)).df
    assert guess_types(df, sample_mode="reservoir") == guess_types(df)


# ------------------------------------------------------------- SQL twins

CORPUS = [
    "\xa0 26.2 \xa0", "\xa0nil\xa0", "nil", "NIL", "", "   ", "$1,000.50",
    "50%", " 26.2 ", "1e3", "+42", "abc", "9223372036854775808",
    "-9223372036854775808", "9223372036854775807", "2020-01-02",
    "2020-01-02 03:04:05", "2020-01-02T03:04:05.250", None,
]

TWINS = [
    (trim_whitespace, trim_whitespace_sql),
    (trim_and_nullify, trim_and_nullify_sql),
    (relaxed_double, relaxed_double_sql),
    (relaxed_long, relaxed_long_sql),
]


@pytest.mark.parametrize(
    "col_form,sql_form", TWINS, ids=[c.__name__ for c, _ in TWINS]
)
def test_sql_twin_equals_column_form(spark, col_form, sql_form):
    df = spark.createDataFrame([(s,) for s in CORPUS], "s string")
    rows = df.select(
        col_form("s").alias("c"), F.expr(sql_form("s")).alias("q")
    ).collect()
    assert [r.c for r in rows] == [r.q for r in rows]
    got = dict(zip(CORPUS, (r.q for r in rows)))
    if col_form is relaxed_double:
        assert got["$1,000.50"] == 1000.5 and got["\xa0 26.2 \xa0"] == 26.2
        assert got["abc"] is None
    if col_form is relaxed_long:
        assert got["9223372036854775807"] == 2**63 - 1
        assert got["9223372036854775808"] is None and got["1e3"] is None


# -------------------------------------------------------- ingest demotion


class _Unreadable(dict):
    """A cell whose type inference fails with an error that is NOT a
    type-inference failure."""

    def items(self):
        raise RuntimeError("unreadable cell")


def test_only_type_inference_failure_demotes(spark):
    mixed = DataTable.from_rows(spark, [[1], [2.5]], ["a"])
    assert mixed.column_types[0].simpleString() == "string"
    assert mixed.value(col="a") == ["1", "2.5"]
    with pytest.raises(RuntimeError, match="unreadable cell"):
        DataTable.from_records(spark, [{"a": _Unreadable(k=1)}])
    with pytest.raises(RuntimeError, match="unreadable cell"):
        DataTable.from_rows(spark, [[_Unreadable(k=1)]], ["a"])


# ------------------------------------------------------------ _bang forms


def test_bang_keeps_row_count_hint(spark):
    dt = DataTable.from_records(spark, [{"a": "1"}, {"a": "2"}])
    dt.set_value_bang("9", row_idx=4, col="a")
    assert dt.number_of_rows == 5 == dt.ordered_df.count()
    block = DataTable.from_records(spark, [{"a": "z"}])
    out = dt.overlay_region(block, row_idx=4)
    ids = [r[0] for r in out.ordered_df.select(ROW_ID).orderBy(ROW_ID).collect()]
    assert ids == [0, 1, 2, 3, 4]
    assert out.value(col="a") == ["1", "2", None, None, "z"]
