"""Output checks, run outside every timed span.

Gate results are compared with their DuckDB oracle as order-insensitive
multisets of rows, with columns matched by lower-cased name. The rules
follow the repository's oracle comparison: integers and floats never
compare equal to each other, floats compare rounded to 6 places, NULL is
distinct from NaN, decimals compare as text (so a DuckDB HUGEINT sum fails
against a Spark long, as it should). Each row is reduced to a 64-bit hash
with pandas' vectorised hashing, so checking a 100k-row result costs
milliseconds, not seconds.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


def _nested_norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else ("f", round(v, 6) + 0.0)
    if isinstance(v, dict):
        return tuple((k, _nested_norm(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(_nested_norm(x) for x in v)
    return v


def _family(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_null(t):
        return "null"
    return "nested"


def _canonical(col: pa.ChunkedArray) -> tuple[str, list[np.ndarray]]:
    """(type family, arrays whose rows identify each value)."""
    fam = _family(col.type)
    nulls = col.is_null().to_numpy(zero_copy_only=False)
    if fam in ("bool", "int"):
        vals = pc.fill_null(col.cast(pa.int64()), 0).to_numpy()
    elif fam == "float":
        raw = pc.fill_null(col.cast(pa.float64()), 0.0).to_numpy()
        nan = np.isnan(raw)
        vals = np.where(nan, 0.0, np.round(raw, 6) + 0.0)
        return fam, [nulls, nan, vals]
    elif fam == "ts":
        # session time zone is UTC, so a zoned and a naive timestamp with
        # the same microsecond count name the same instant
        vals = pc.fill_null(
            col.cast(pa.timestamp("us"), safe=False).cast(pa.int64()), 0
        ).to_numpy()
    elif fam == "date":
        vals = pc.fill_null(col.cast(pa.date32()).cast(pa.int32()), 0).to_numpy()
    elif fam == "str":
        vals = pc.fill_null(col, "").to_numpy(zero_copy_only=False)
    elif fam == "null":
        vals = np.zeros(len(col), dtype=np.int64)
    else:  # decimal and nested values compare by their normalised text
        vals = np.array(
            [repr(_nested_norm(v)) for v in col.to_pylist()], dtype=object
        )
    return fam, [nulls, vals]


def table_digest(tbl: pa.Table) -> tuple[tuple, np.ndarray]:
    """(schema signature, sorted uint64 row hashes) of an Arrow table."""
    names = [n.lower() for n in tbl.schema.names]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols: dict[str, np.ndarray] = {}
    sig = []
    for i in order:
        fam, arrays = _canonical(tbl.column(i))
        sig.append((names[i], fam))
        for j, a in enumerate(arrays):
            cols[f"{i}_{j}"] = a
    if not cols or tbl.num_rows == 0:
        return tuple(sig), np.zeros(0, dtype=np.uint64)
    hashes = pd.util.hash_pandas_object(
        pd.DataFrame(cols), index=False
    ).to_numpy()
    return tuple(sig), np.sort(hashes)


def compare_digests(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    (gsig, grows), (wsig, wrows) = got, want
    if [n for n, _ in gsig] != [n for n, _ in wsig]:
        return f"columns {[n for n, _ in gsig]} != {[n for n, _ in wsig]}"
    if gsig != wsig:
        return f"column types {gsig} != {wsig}"
    if len(grows) != len(wrows):
        return f"row count {len(grows)} != {len(wrows)}"
    if not np.array_equal(grows, wrows):
        return f"{int((grows != wrows).sum())} of {len(grows)} row hashes differ"
    return None


class Oracle:
    """DuckDB over the generated tables; one digest per gate per run (the
    tables do not change within a run)."""

    def __init__(self, data_dir: str, tables, sqls: dict[str, str], tmp_dir: str):
        import duckdb

        self._con = duckdb.connect()
        self._con.execute("SET memory_limit = '1GB'")
        self._con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in tables:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        self._sqls = sqls
        self._digests: dict[str, tuple] = {}

    def digest(self, gate: str):
        if gate not in self._digests:
            self._digests[gate] = table_digest(
                self._con.sql(self._sqls[gate]).arrow()
            )
        return self._digests[gate]

    def check(self, gate: str, result: pa.Table) -> str | None:
        return compare_digests(table_digest(result), self.digest(gate))

    def close(self) -> None:
        self._con.close()
