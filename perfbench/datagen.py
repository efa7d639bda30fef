"""Seeded inputs for the benchmark.

``write_tables`` writes the ten star-schema / corpus tables the gates read
(one parquet file per table, one row group each, the same column names and
types as the repository's test data) at a given scale factor. Every value
is drawn from ``numpy.random.default_rng(seed)``, so one seed always gives
byte-identical tables.

``facade_records`` builds the messy records the ``facade`` workload feeds
to ``DataTable.from_records``: blanks and ``"nil"`` cells, numeric strings
with separators, dates, integers beyond 2^31, a column whose late row
breaks the sampled type guess, and one string of at least 8000 characters.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EMBED_DIM = 64

#: facade record layout: name -> what the column exercises
FACADE_COLUMNS = (
    "id",          # 1..n as plain digit strings -> bigint
    "amount",      # "$1,234.50" / "12%" / " 7 " -> double
    "big",         # ints beyond 2^31 -> bigint (DDL sizes it BIGINT)
    "small",       # ints inside 2^31 -> bigint (DDL sizes it INT)
    "day",         # ISO dates -> timestamp
    "city",        # plain words, blank and "nil" cells -> string
    "late",        # integer strings until a late row breaks the guess
    "note",        # short text plus one >= 8000-char cell -> TEXT
)


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n: int, p=None) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` as pandas frames."""
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    r = _rng(seed, 1)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, 2)
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
    })
    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": _pick(r, _PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    r = _rng(seed, 4)
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(r, _PRIORITIES, n_ord),
    })
    r = _rng(seed, 5)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })
    r = _rng(seed, 6)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(r.choice(span_us, n_evt, replace=False)).astype(
        "timedelta64[us]"
    )
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": _pick(r, _EVENT_TYPES, n_evt),
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    })
    out["documents"] = _documents(_rng(seed, 7), n_docs)
    r = _rng(seed, 8)
    vecs = r.standard_normal((n_vecs, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": r.integers(0, 10, n_vecs).astype(np.int32),
    })
    return out


def _documents(r: np.random.Generator, n: int) -> pd.DataFrame:
    """Random-word documents; 5% are an earlier document plus " dup" (the
    near-duplicates the dedup gates look for) and 0.2% exact copies."""
    lengths = r.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[r.integers(0, len(words), k)]) for k in lengths]
    kind = r.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(r.integers(0, i))] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[int(r.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(sf, seed).items():
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False, row_group_size=len(df),
        )


def facade_records(n: int, seed: int) -> list[dict]:
    """``n`` messy string records (see ``FACADE_COLUMNS``).

    Rows 0..n-2 keep ``late`` integer-typed; the last row holds a word
    there, beyond the 1000-row guessing sample, so strict coercion must
    fall the column back to string. Row ``n // 2`` carries the long note.
    """
    if n <= 1000:
        raise ValueError("facade records must exceed the 1000-row guessing sample")
    r = _rng(seed, 9)
    cities = ("Oslo", "Lima", "Pune", "Kyiv", "Baku", "Graz", "Nuuk", "Riga")
    records = []
    for i in range(n):
        cents = int(r.integers(0, 10**8))
        style = i % 4
        if style == 0:
            amount = f"${cents // 100:,}.{cents % 100:02d}"
        elif style == 1:
            amount = f"{cents % 100}%"
        elif style == 2:
            amount = f" {cents // 100} "
        else:
            amount = f"{cents / 100:.2f}"
        day = np.datetime64("2020-01-01") + int(r.integers(0, 2000))
        blank = r.random()
        records.append({
            "id": str(i + 1),
            "amount": amount,
            "big": str(int(r.integers(2**31, 2**53)) * (1 if i % 2 else -1)),
            "small": str(int(r.integers(-(2**31), 2**31))),
            "day": str(day),
            "city": "" if blank < 0.05 else "nil" if blank < 0.1 else cities[i % 8],
            "late": str(int(r.integers(0, 10**6))),
            "note": f"note {int(r.integers(0, 10**9)):x}",
        })
    records[n // 2]["note"] = "x" * (8000 + int(r.integers(0, 500)))
    records[-1]["late"] = "late-row"
    return records


def write_csv(path: str, records: list[dict]) -> None:
    """The same records as a CSV file with a header row."""
    pd.DataFrame(records, columns=list(FACADE_COLUMNS)).to_csv(path, index=False)
