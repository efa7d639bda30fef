"""Lint: the facade's driver-side tables stay JVM-resident (no Spark
needed — a source scan).

``core._local_relation`` ships driver-side rows to the JVM as one Arrow
table, a ``LocalRelation``. A relation built on ``sparkContext.parallelize``
instead is a Python RDD: every job over it starts a Python worker to
unpickle the rows, and Catalyst cannot fold filters over it, so even a
cell read runs a job. This lint keeps that path out of the facade and
inference modules.
"""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GUARDED = ("data_table_spark/core.py", "data_table_spark/inference.py")

#: ``spark.sparkContext.parallelize(...)`` and any alias of the context
#: (``sc.parallelize``, ``spark._sc.parallelize``)
PARALLELIZE = re.compile(r"\.parallelize\(")


def test_no_python_rdd_relations_in_facade():
    bad = {}
    for rel in GUARDED:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            hits = [
                i for i, line in enumerate(f, 1)
                if PARALLELIZE.search(line)
            ]
        if hits:
            bad[rel] = hits
    assert not bad, (
        "Python-RDD relations in the facade (build them with "
        f"core._local_relation instead): {bad}"
    )
