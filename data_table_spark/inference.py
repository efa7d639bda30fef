"""Sampling-based type inference + strict coercion (SURVEY §1.3).

Reproduces the reference's guessing lattice on Spark as aggregates of
per-column counters — never a driver-side transpose:

- sample-rows / *guessing-types-sample-size* = 1000 (data-table.lisp:292-307)
- assign-types-to-column per-value pipeline date→integer→float→string
  (data-table.lisp:309-329)
- lattice resolution: any string → string; {integer} → integer;
  {double-float,ratio,integer} → double-float; else string
  (data-table.lisp:336-343)
- 2^63 demotion: |v| >= 2^63 → string (simplify-types,
  data-table.lisp:266-280; asserted tests/data-table.lisp:199-206)
- strict coercion with bad-type-guess error / assume-column-is-string
  fallback (data-table.lisp:345-355, 387-407)

Documented improvement over the reference: ISO-dateish columns infer as
TIMESTAMP (the reference lets guessed dates degrade to string,
data-table.lisp:343); disable with ``infer_dates=False`` for bug-parity.

Every pass is SQL text built from the ``*_sql`` twins in
functions/cleaning.py, one ``selectExpr`` per layer: trimmed values and
junk-stripped values (once per row), then one aggregate of counters; only
counters are collected. ``guess_types`` aggregates the head sample
(``limit(n)``, O(n) at any table size). ``auto_type_one_pass`` (the facade,
whose frames carry a dense row-order column) answers guess AND audit in ONE
aggregate: guess counters over ``row_id < n``, audit counters over every
row. ``auto_type`` (frames with no row order) runs a head-sample guess,
then an audit. Audit and cast share ``_cast_sql``, so the audit counts
exactly the values the cast turns into NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .config import GUESSING_TYPES_SAMPLE_SIZE, LARGEST_NUMBER
from .functions.cleaning import (
    _INT_RE,
    _sql_str,
    double_of_stripped_sql,
    integer_of_stripped_sql,
    strip_numeric_junk_sql,
    trim_and_nullify_sql,
)

_TS_RE = r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"


class BadTypeGuess(ValueError):
    """Mirror of the ``bad-type-guess`` condition (data-table.lisp:345-355)."""

    def __init__(self, column: str, dtype: str, bad_count: int):
        self.column, self.dtype, self.bad_count = column, dtype, bad_count
        super().__init__(
            f"column {column!r}: {bad_count} value(s) failed strict coercion "
            f"to {dtype} (reference bad-type-guess, data-table.lisp:345-355)"
        )


def simplify_type(value) -> str:
    """Value → 'integer' | 'double-float' | 'string' with 2^63 demotion
    (simplify-types, data-table.lisp:269-280). Driver-side single-value
    classifier kept for API parity (R14)."""
    if isinstance(value, bool):
        return "string"
    if isinstance(value, int):
        return "integer" if abs(value) < LARGEST_NUMBER else "string"
    if isinstance(value, float):
        return "double-float" if abs(value) < LARGEST_NUMBER else "string"
    return "string"


def _q(name: str) -> str:
    """Column name → backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _cast_sql(v: str, s: str, dtype: T.DataType) -> str:
    """Strict-coercion cast of a trimmed value ``v`` whose junk-stripped
    form is ``s`` — the ONE definition both the cast projection and the
    audit counters use."""
    if isinstance(dtype, T.DoubleType):
        return double_of_stripped_sql(s)
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        return integer_of_stripped_sql(s, dtype.simpleString())
    if isinstance(dtype, T.TimestampType):
        return f"TRY_TO_TIMESTAMP({v})"
    if isinstance(dtype, T.StringType):
        return v
    return f"TRY_CAST({v} AS {dtype.simpleString()})"


def _guess_sql(i: int, in_sample: str) -> list[str]:
    """The four lattice counters of column ``i`` (assign-types-to-column,
    data-table.lisp:309-329) over the layer values ``_v{i}``/``_s{i}``,
    counting only rows where ``in_sample`` holds."""
    v, s = f"_v{i}", f"_s{i}"
    int_syntax = f"{s} RLIKE {_sql_str(_INT_RE)}"
    # 2^63 range check on integer syntax without overflow: decimal(38,0)
    # (2^63 itself doesn't fit a Java long, so it goes in as a string)
    in_range = (
        f"COALESCE(ABS(TRY_CAST({s} AS DECIMAL(38,0))) "
        f"< CAST('{LARGEST_NUMBER}' AS DECIMAL(38,0)), FALSE)"
    )
    int_ok = f"({int_syntax} AND {in_range})"
    dbl = double_of_stripped_sql(s)
    dbl_ok = f"({dbl} IS NOT NULL AND ABS({dbl}) < {LARGEST_NUMBER}D)"
    is_ts = f"({v} RLIKE {_sql_str(_TS_RE)} AND TRY_TO_TIMESTAMP({v}) IS NOT NULL)"
    nn = f"{v} IS NOT NULL"
    # ints with |v| >= 2^63 parse fine as doubles; the reference still
    # demotes them to string (data-table.lisp:274-276)
    bad = (
        f"({nn} AND NOT {dbl_ok} AND NOT {int_ok} AND NOT {is_ts}) "
        f"OR ({int_syntax} AND NOT {in_range})"
    )
    conds = {
        "nn": nn,
        "bad": bad,
        "nonint": f"{nn} AND {dbl_ok} AND NOT {int_ok} AND NOT {is_ts}",
        "nonts": f"{nn} AND NOT {is_ts}",
    }
    return [
        f"COUNT(CASE WHEN {in_sample} AND ({c}) THEN 1 END) AS _g{i}_{k}"
        for k, c in conds.items()
    ]


def _counts(
    df: DataFrame,
    guess: list[str],
    audits: list[tuple[str, T.DataType]],
    in_sample: str = "TRUE",
) -> dict[str, int]:
    """ONE aggregate job: the lattice counters ``_g{i}_*`` of each column
    in ``guess`` over the rows where ``in_sample`` holds, and the
    strict-coercion failure count ``_a{j}`` of each ``audits[j]`` =
    (column, type) over every row. Three selectExpr layers: trimmed
    values, junk-stripped values, counters."""
    if not guess and not audits:
        return {}
    cols = list(dict.fromkeys([*guess, *(c for c, _ in audits)]))
    idx = {c: i for i, c in enumerate(cols)}
    values = df.selectExpr(
        f"{in_sample} AS _in",
        *[f"{trim_and_nullify_sql(_q(c))} AS _v{i}" for i, c in enumerate(cols)],
    ).selectExpr(
        "_in",
        *[f"_v{i}" for i in range(len(cols))],
        *[f"{strip_numeric_junk_sql(f'_v{i}')} AS _s{i}" for i in range(len(cols))],
    )
    exprs = [e for c in guess for e in _guess_sql(idx[c], "_in")]
    for j, (c, t) in enumerate(audits):
        v, s = f"_v{idx[c]}", f"_s{idx[c]}"
        exprs.append(
            f"COUNT(CASE WHEN {v} IS NOT NULL AND {_cast_sql(v, s, t)} IS NULL "
            f"THEN 1 END) AS _a{j}"
        )
    return values.selectExpr(*exprs).collect()[0].asDict()


def _pick(counts: dict[str, int], i: int, infer_dates: bool) -> T.DataType:
    """Lattice resolution (guess-types-for-data-table,
    data-table.lisp:336-343) from column ``i``'s counters."""
    nn, bad, nonint, nonts = (
        counts[f"_g{i}_{k}"] for k in ("nn", "bad", "nonint", "nonts")
    )
    if nn == 0 or bad > 0:
        return T.StringType()       # any string candidate wins (lisp:337-338, 343)
    if infer_dates and nonts == 0:
        return T.TimestampType()    # documented improvement (SURVEY §1.3)
    if nonint == 0:
        return T.LongType()         # exactly {integer} (lisp:339-340)
    return T.DoubleType()           # {int,double} mix (lisp:341-342)


def _string_columns(df: DataFrame, exclude=()) -> list[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name not in exclude
    ]


def _as_types(types: dict | None) -> dict[str, T.DataType]:
    """DDL-string specs ("bigint", "decimal(10,2)") → DataType."""
    return {
        c: (T.DataType.fromDDL(t) if isinstance(t, str) else t)
        for c, t in (types or {}).items()
    }


def guess_types(
    df: DataFrame,
    columns: list[str] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    infer_dates: bool = True,
    sample_mode: str = "head",
) -> dict[str, T.DataType]:
    """Infer a Spark type per (string) column from a bounded sample, with
    one aggregate of 4 counters per column over it
    (guess-types-for-data-table, data-table.lisp:331-343). sample_mode
    'head' (default): ``limit(n)``, reads only the first partitions, O(n)
    at any table size. 'reservoir': ``rdd.takeSample``, exact parity with
    the reference's sample-rows (data-table.lisp:295-307) at the price of
    a full scan; for biased heads (e.g. a sorted file)."""
    columns = columns or _string_columns(df)
    if not columns:
        return {}
    sample = df.select(*columns)
    if sample_mode == "reservoir":
        from .core import _local_relation

        rows = sample.rdd.takeSample(False, sample_size, seed=42)
        if not rows:
            return {c: T.StringType() for c in columns}
        sample = _local_relation(df.sparkSession, rows, sample.schema)
    else:
        sample = sample.limit(sample_size)
    counts = _counts(sample, columns, [])
    return {c: _pick(counts, i, infer_dates) for i, c in enumerate(columns)}


def ensure_column_types(
    df: DataFrame,
    explicit: dict[str, T.DataType] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    infer_dates: bool = True,
) -> dict[str, T.DataType]:
    """Merge explicitly-provided types over inferred ones; only guess where
    needed (ensure-column-data-types, data-table.lisp:371-385: keeps any
    explicit non-string types, guesses the rest)."""
    explicit = _as_types(explicit)
    need = _string_columns(df, explicit)
    guessed = guess_types(df, need, sample_size, infer_dates) if need else {}
    guessed.update(explicit)
    return guessed


def _check_on_error(on_error: str) -> None:
    # a closed set like the reference's restarts (lisp:398-404): an
    # unknown policy must not silently become lenient-null
    if on_error not in ("raise", "string", "null"):
        raise ValueError(f"on_error must be raise/string/null, not {on_error!r}")


def _targets(df: DataFrame, types: dict[str, T.DataType]) -> dict[str, T.DataType]:
    return {
        c: t
        for c, t in types.items()
        if c in df.columns and not isinstance(t, T.StringType)
    }


def _apply(
    df: DataFrame,
    types: dict[str, T.DataType],
    bad: dict[str, int],
    on_error: str,
) -> DataFrame:
    """Strict coercion from audit counts (data-table.lisp:387-407): a
    failing column raises bad-type-guess (``'raise'``) or stays string
    (``'string'``, assume-column-is-string, lisp:398-404); ``'null'``
    keeps failed casts as NULL. Layers: trim-and-nullify, then cast."""
    targets = _targets(df, types)
    strings = {c for c in types if c in df.columns and c not in targets}
    if on_error != "null":
        for c, n in bad.items():
            if n:
                if on_error == "raise":
                    raise BadTypeGuess(c, targets[c].simpleString(), n)
                del targets[c]
                strings.add(c)
    if not targets and not strings:
        return df
    trimmed = df.selectExpr(*[
        f"{trim_and_nullify_sql(_q(c))} AS {_q(c)}"
        if c in targets or c in strings else _q(c)
        for c in df.columns
    ])
    if not targets:
        return trimmed
    return trimmed.selectExpr(*[
        f"{_cast_sql(_q(c), strip_numeric_junk_sql(_q(c)), targets[c])} AS {_q(c)}"
        if c in targets else _q(c)
        for c in df.columns
    ])


def coerce_table(
    df: DataFrame,
    types: dict[str, T.DataType],
    on_error: str = "string",
) -> DataFrame:
    """Cast string columns to their target types with the reference's strict
    semantics (coerce-data-table-of-strings-to-types, data-table.lisp:387-407).

    Spark's cast is NULL-on-failure; the reference RAISES. One audit
    aggregate counts rows whose trimmed value is non-null but whose cast is
    NULL. Type specs may be DataTypes or DDL strings ("decimal(10,2)")."""
    _check_on_error(on_error)
    types = _as_types(types)
    audits = [] if on_error == "null" else list(_targets(df, types).items())
    counts = _counts(df, [], audits)
    bad = {c: counts[f"_a{j}"] for j, (c, _) in enumerate(audits)}
    return _apply(df, types, bad, on_error)


def auto_type(
    df: DataFrame,
    explicit: dict[str, T.DataType] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    on_error: str = "string",
    infer_dates: bool = True,
) -> DataFrame:
    """End-to-end: infer missing types then coerce — the engine's equivalent
    of ``get-data-table :auto-type t`` (clsql-data-table.lisp:13-19). For
    frames without a row order: a head-sample guess job, then an audit
    job over the table."""
    types = ensure_column_types(df, explicit, sample_size, infer_dates)
    return coerce_table(df, types, on_error=on_error)


def auto_type_one_pass(
    df: DataFrame,
    row_id: str,
    explicit: dict[str, T.DataType] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    on_error: str = "string",
    infer_dates: bool = True,
) -> DataFrame:
    """``auto_type`` for a frame with a dense 0-based row-order column
    ``row_id``, in ONE aggregate job: guess counters over the head sample
    (``row_id < sample_size``, the rows ``limit()`` returns), audit
    counters over every row for each type the lattice may pick and each
    explicit type."""
    _check_on_error(on_error)
    explicit = _as_types(explicit)
    guess = _string_columns(df, {*explicit, row_id})
    candidates = [T.LongType(), T.DoubleType()]
    if infer_dates:
        candidates.append(T.TimestampType())
    audits = [(c, t) for c in guess for t in candidates]
    audits += list(_targets(df, explicit).items())
    counts = _counts(df, guess, audits, f"{_q(row_id)} < {int(sample_size)}")
    types = {c: _pick(counts, i, infer_dates) for i, c in enumerate(guess)}
    types.update(explicit)
    bad = {
        c: counts[f"_a{j}"]
        for j, (c, t) in enumerate(audits)
        if types[c] == t
    }
    return _apply(df, types, bad, on_error)
