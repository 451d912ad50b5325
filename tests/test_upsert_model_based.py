"""Model-based test of ``ParquetMergeTable.merge``: Hypothesis draws
sequences of batches and applies each to the table and to a plain dict
model, then checks the table against the model after EVERY step.

Batches carry duplicate keys inside one batch, NULL values and a NULL
key column, partial overlaps with the stored keys, and repeats of the
previous batch.  Checked at every step: last-writer-wins contents, no
duplicate keys, no staging debris, and a repeated batch without
in-batch duplicates writes nothing.

Within one batch, duplicate keys keep an arbitrary single row, so the
model accepts any of that key's values and then adopts the one the
table kept.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable

SCHEMA = StructType([
    StructField("k", IntegerType()),
    StructField("tag", StringType()),
    StructField("v", DoubleType()),
])

rows = st.lists(
    st.tuples(
        st.integers(0, 5),
        st.sampled_from(["a", "b", None]),
        st.one_of(st.none(), st.integers(-3, 3).map(float)),
    ),
    min_size=0,
    max_size=10,
)
# a step is a fresh batch, or (None) the previous batch again
steps = st.lists(st.one_of(rows, st.none()), min_size=1, max_size=5)


def _listing(path):
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)}


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=steps)
def test_merge_matches_dict_model(spark, steps):
    root = tempfile.mkdtemp(prefix="merge-model-")
    try:
        table = ParquetMergeTable(spark, os.path.join(root, "t"), ["k", "tag"], SCHEMA)
        model: dict[tuple, float | None] = {}
        batch: list = []
        for step in steps:
            repeat = step is None
            if not repeat:
                batch = step
            candidates: dict[tuple, set] = {}
            for k, tag, v in batch:
                candidates.setdefault((k, tag), set()).add(v)
            before = _listing(table.path) if os.path.exists(table.path) else None

            table.merge(spark.createDataFrame(batch, SCHEMA))

            got_rows = table.read().collect()
            got = {(r["k"], r["tag"]): r["v"] for r in got_rows}
            assert len(got) == len(got_rows), "duplicate keys in the table"
            for key, vals in candidates.items():
                assert got.get(key, "absent") in vals, (key, vals, got.get(key, "absent"))
                model[key] = got[key]
            assert got == model
            assert not os.path.exists(table.path + "__staging")
            if repeat and before is not None and len(candidates) == len(batch):
                assert _listing(table.path) == before, "a repeated batch rewrote files"
    finally:
        shutil.rmtree(root, ignore_errors=True)
