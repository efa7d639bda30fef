"""Reference-semantics scalar cleaning functions as pure Column expressions.

Everything here is built from ``pyspark.sql.functions`` so it stays inside
whole-stage codegen — no Python UDFs on the hot path. Each function also has
a SQL-text twin (``*_sql``) so the same semantics can be spliced into
``selectExpr`` / ``spark.sql`` strings; the inference plans
(inference.py) and the SQL-defined functions (sql_functions.py) are built
from the twins, so each rule has one SQL definition.

Reference citations (into /root/reference/):
- trim-whitespace / trim-and-nullify: data-table.lisp:40-56
  (whitespace bag includes NBSP #\\xa0; "" and "nil"/"NIL" → NULL)
- relaxed-parse-float: data-table.lisp:74-90
  (strip ``\\s $ , %`` then parse; "$1,000.50"→1000.5, "50%"→50.0)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Regex for the reference's trimbag: ASCII whitespace + NBSP (U+00A0).
_TRIM_EDGE = r"^[\s ]+|[\s ]+$"

#: Characters stripped by relaxed numeric parsing (data-table.lisp:86).
_NUMERIC_JUNK = r"[\s $,%]"

#: Integer literal syntax accepted by the lenient integer parse.
_INT_RE = r"^[+-]?[0-9]+$"


def trim_whitespace(col: Column | str) -> Column:
    """NBSP-aware trim (data-table.lisp:45-46)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _TRIM_EDGE, "")


def trim_and_nullify(col: Column | str) -> Column:
    """Trim; then ``""`` or case-insensitive ``"nil"`` → NULL
    (data-table.lisp:48-56)."""
    t = trim_whitespace(col)
    return F.when(F.lower(t).isin("", "nil"), F.lit(None).cast("string")).otherwise(t)


def relaxed_double(col: Column | str) -> Column:
    """Lenient numeric parse: strip whitespace/$/,/% then cast to double
    (data-table.lisp:74-90). Unparseable → NULL (caller decides policy)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _NUMERIC_JUNK, "").try_cast("double")


def relaxed_long(col: Column | str) -> Column:
    """Integer variant of the lenient parse: strips junk then casts to long.
    Strings with a fractional part do NOT parse as integers (mirrors
    ``parse-integer`` strictness, data-table.lisp:322)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, _NUMERIC_JUNK, "")
    # invariant: only strings matching an integer literal parse; the regex
    # guard makes that explicit rather than relying on string→long cast
    # behavior, which differs across Spark versions and ANSI modes.
    return F.when(stripped.rlike(_INT_RE), stripped.try_cast("long")).otherwise(
        F.lit(None).cast("long")
    )


# --- SQL-text twins (tests/test_facade_one_pass.py holds each equal to its
# Column form). ``*_of_stripped_sql`` take an already junk-stripped value,
# so a plan can strip once per row and parse it several ways.


def _sql_str(s: str) -> str:
    """Python string → Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def trim_whitespace_sql(expr: str) -> str:
    return f"REGEXP_REPLACE({expr}, {_sql_str(_TRIM_EDGE)}, '')"


def trim_and_nullify_sql(expr: str) -> str:
    t = trim_whitespace_sql(expr)
    return f"CASE WHEN LOWER({t}) IN ('', 'nil') THEN NULL ELSE {t} END"


def strip_numeric_junk_sql(expr: str) -> str:
    return f"REGEXP_REPLACE({expr}, {_sql_str(_NUMERIC_JUNK)}, '')"


def double_of_stripped_sql(stripped: str) -> str:
    return f"TRY_CAST({stripped} AS DOUBLE)"


def integer_of_stripped_sql(stripped: str, sql_type: str = "BIGINT") -> str:
    return (
        f"CASE WHEN {stripped} RLIKE {_sql_str(_INT_RE)} "
        f"THEN TRY_CAST({stripped} AS {sql_type}) END"
    )


def relaxed_double_sql(expr: str) -> str:
    return double_of_stripped_sql(strip_numeric_junk_sql(expr))


def relaxed_long_sql(expr: str) -> str:
    return integer_of_stripped_sql(strip_numeric_junk_sql(expr))
