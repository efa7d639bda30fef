"""The two workloads: which ops each runs, at which scale, and how each
op's output is checked.

An op is either one gate (``queries()[name](spark, data_dir)`` plus its
materialisation with ``toArrow``) or one facade call sequence. Each list
below was cut from a longer candidate list so that a whole run fits the
time the benchmark may take on a 4-core host; README.md gives the reasons
for each workload and each cut.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

#: single-pass SQL (plan + scan + shuffle) and one job-heavy iterative
#: gate; q12 is the gate a blanket repartition slowed to 0.36x
RELATIONAL = (
    "q01_scan_project", "q04_inner_join", "q12_group_agg", "q18_row_number",
    "q35_pivot", "q49_json_extract", "q96_tpch_q1_full",
    "q153_native_recursive_cte",
)

#: CPU-heavy LLM-pipeline gates: one with single-task stages (of the four
#: that a round-robin repartition after the scan sped up 1.85-2.24x), one
#: that cuts its lineage (the only lineage cut among these gates), a
#: mapInPandas fold that holds a whole partition in pandas, and an Arrow
#: UDTF
KERNELS = (
    "q162_geo_radius_join", "text_dup_ngrams", "udf_ewma_state",
    "udf_arrow_udtf_words",
)

#: facade call sequences per pass, and records per sequence (over the
#: 1000-row guessing sample, so the late row escapes the sample)
FACADE_SEQUENCES = 1
FACADE_RECORDS = 1500

#: facade calls in the order each sequence makes them; these are also the
#: span names of the traced run
FACADE_CALLS = (
    "core.from_records", "inference.guess_types", "core.coerce_types",
    "core.value", "core.set_value", "core.sub_table", "core.overlay_region",
    "core.format_for_output", "core.to_records", "ddl.create_table_ddl",
    "ddl.import_dataframe", "sql.get_data_table", "core.write_parquet",
    "csv.from_csv",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    gates: tuple[str, ...]
    #: seconds of ``--seconds`` one steady pass stands for. A run makes
    #: seconds // pass_s steady passes, at least ``min_steady``: every run
    #: does the same work and its medians rest on the same sample count,
    #: however fast the host is.
    pass_s: float
    facade_sequences: int = 0
    min_steady: int = 3

    def steady_passes(self, seconds: float) -> int:
        return max(self.min_steady, int(seconds // self.pass_s))


WORKLOADS = {
    "facade": Workload("facade", 0.001, (), 12.0, FACADE_SEQUENCES, min_steady=2),
    "gates": Workload("gates", 0.01, RELATIONAL + KERNELS, 6.0),
}


@dataclass(frozen=True)
class Op:
    """One unit of the closed loop; ``kind`` is 'gate' or 'facade'."""

    kind: str
    name: str


def ops_of(w: Workload) -> list[Op]:
    ops = [Op("gate", g) for g in w.gates]
    ops += [Op("facade", f"facade_seq{i}") for i in range(w.facade_sequences)]
    return ops


# ---------------------------------------------------------------- facade

#: what guess_types must say for each generated column: ``late`` looks
#: integer inside the sample, and its late word only shows on coercion
GUESSED = {
    "id": "bigint", "amount": "double", "big": "bigint", "small": "bigint",
    "day": "timestamp", "city": "string", "late": "bigint", "note": "string",
}
COERCED = dict(GUESSED, late="string")
DDL_EXPECT = ("id INT", "big BIGINT", "small INT", "note TEXT", "late VARCHAR(")


class FacadeSequence:
    """The paper's data model end to end, on one set of messy records.

    ``run`` makes the calls (each inside ``span(name)``) and returns what
    ``check`` needs; ``check`` runs after the op, outside every span."""

    def __init__(self, spark, records: list[dict], csv_path: str, work_dir: str):
        self.spark = spark
        self.records = records
        self.csv_path = csv_path
        self.work_dir = work_dir
        n = len(records)
        self.cell_row = n // 3
        self.region = (0, 4, 10, 20)      # lci, uci, lri, uri
        self.paste_at = (n - 15, 2)       # row, column of the overlay

    def run(self, op_id: str, span) -> dict:
        from data_table_spark import DataTable, get_data_table
        from data_table_spark.plans.ddl import create_table_ddl, import_dataframe

        spark, out = self.spark, {}
        table = f"pb_{op_id}"
        with span("core.from_records"):
            raw = DataTable.from_records(spark, self.records)
        with span("inference.guess_types"):
            out["guessed"] = raw.guess_types()
        with span("core.coerce_types"):
            typed = raw.coerce_types()
        out["typed_schema"] = typed.df.schema
        with span("core.value"):
            out["amount"] = typed.value(self.cell_row, "amount")
        with span("core.set_value"):
            edited = typed.set_value("Zurich", self.cell_row, "city")
        lci, uci, lri, uri = self.region
        with span("core.sub_table"):
            block = edited.sub_table(lci, uci, lri, uri)
        with span("core.overlay_region"):
            pasted = edited.overlay_region(block, *self.paste_at)
        with span("core.format_for_output"):
            shown = pasted.format_for_output()
        with span("core.to_records"):
            out["records"] = shown.to_records()
        with span("ddl.create_table_ddl"):
            out["ddl"] = create_table_ddl(edited.df, table)
        with span("ddl.import_dataframe"):
            out["imported"] = import_dataframe(
                spark, edited.df, table, mode="overwrite"
            )
        with span("sql.get_data_table"):
            back = get_data_table(
                spark, f"SELECT * FROM {table}", auto_type_result=True
            )
            out["read_back"] = back.df.toArrow()
        path = os.path.join(self.work_dir, f"{table}.parquet")
        with span("core.write_parquet"):
            edited.write_parquet(path)
        out["parquet_path"] = path
        with span("csv.from_csv"):
            out["from_csv"] = DataTable.from_csv(spark, self.csv_path).df.toArrow()
        out.update(edited=edited, typed=typed, table=table)
        return out

    def check(self, out: dict) -> str | None:
        """None when every facade assertion holds, else the first failure."""
        import shutil

        import pyarrow.parquet as pq

        from checks import compare_digests, table_digest

        try:
            guessed = {c: t.simpleString() for c, t in out["guessed"].items()}
            if guessed != GUESSED:
                return f"guess_types {guessed}"
            coerced = {f.name: f.dataType.simpleString()
                       for f in out["typed_schema"].fields}
            if coerced != COERCED:
                return f"coerce_types {coerced} (late must fall back to string)"
            want = _parse_amount(self.records[self.cell_row]["amount"])
            if out["amount"] is None or abs(out["amount"] - want) > 1e-9:
                return f"value {out['amount']} != {want}"
            recs = out["records"]
            if len(recs) != len(self.records):
                return f"to_records gave {len(recs)} rows"
            row, col = self.paste_at
            lci, _, lri, _ = self.region
            if recs[self.cell_row]["city"] != "Zurich":
                return "set_value did not land"
            src = self.records[lri + 3]
            pasted = recs[row + 3][list(COERCED)[col]]
            if pasted != _fmt(src[list(COERCED)[lci]], COERCED[list(COERCED)[lci]]):
                return f"overlay_region cell {pasted!r}"
            for piece in DDL_EXPECT:
                if piece not in out["ddl"]:
                    return f"create_table_ddl lacks {piece!r}"
            if out["imported"] != len(self.records):
                return f"import_dataframe counted {out['imported']}"
            written = table_digest(out["edited"].df.toArrow())
            for what, got in (
                ("read-back", out["read_back"]),
                ("parquet", pq.read_table(out["parquet_path"])),
            ):
                bad = compare_digests(table_digest(got), written)
                if bad:
                    return f"{what} differs from written: {bad}"
            bad = compare_digests(table_digest(out["from_csv"]),
                                  table_digest(out["typed"].df.toArrow()))
            if bad:
                return f"from_csv differs from from_records: {bad}"
            return None
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {out['table']}")
            shutil.rmtree(out["parquet_path"], ignore_errors=True)


def _parse_amount(s: str) -> float:
    return float("".join(ch for ch in s if ch not in " $,%"))


def _fmt(raw: str, dtype: str) -> str:
    """A raw record cell as format_for_output prints it after coercion."""
    if dtype == "bigint":
        return str(int(raw))
    return raw
