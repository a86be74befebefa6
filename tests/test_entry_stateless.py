"""Declared queries are self-contained dataflows: each call reads its
input, builds its own intermediate relations and returns a plan over
them. Nothing a query computes outlives the call in module state, so
a later call never sees an earlier call's data, and the result does
not depend on the session's shuffle partition count."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

import __spark_entry__ as entry
from tests.conftest import SF_DIR_001


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _dataframes_in(value, depth: int = 0) -> list[DataFrame]:
    if isinstance(value, DataFrame):
        return [value]
    if depth >= 3:
        return []
    if isinstance(value, dict):
        items = list(value.keys()) + list(value.values())
    elif isinstance(value, (list, tuple, set, frozenset)):
        items = list(value)
    else:
        return []
    return [df for v in items for df in _dataframes_in(v, depth + 1)]


def test_rewritten_input_is_read_again(spark, tmp_path):
    """A second call on the same path sees the data now at that path,
    not the first call's result."""
    from hama_spark.extensions import minhash_lsh_dup_pairs
    from hama_spark.session import load_tables

    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF_DIR_001):
        shutil.copyfile(os.path.join(SF_DIR_001, name), sf / name)
    q = entry.queries()["minhash_lsh_pairs"]
    before = _rows(q(spark, str(sf)))
    assert len(before) > 1

    docs_path = sf / "documents.parquet"
    docs = pq.read_table(docs_path).sort_by("doc_id").slice(0, 20)
    pq.write_table(docs, docs_path)

    after = _rows(q(spark, str(sf)))
    fresh = _rows(
        minhash_lsh_dup_pairs(
            load_tables(spark, str(sf))["documents"],
            threshold=0.5, num_hashes=16, bands=4,
        )
    )
    assert after == fresh
    assert after != before


def test_queries_leave_no_dataframe_in_module_state(spark):
    qs = entry.queries()
    for name in ("minhash_lsh_pairs", "dedup_near"):
        qs[name](spark, SF_DIR_001).collect()
    held = {
        name: len(found)
        for name, value in vars(entry).items()
        if (found := _dataframes_in(value))
    }
    assert not held, f"module globals holding DataFrames: {held}"


def test_dedup_near_is_shuffle_partition_invariant(spark):
    """The suite runs at 4 shuffle partitions; bench.py and the shipped
    default run at max(16, cpus). Both must give the same survivors."""
    key = "spark.sql.shuffle.partitions"
    q = entry.queries()["dedup_near"]
    before = spark.conf.get(key)
    out = {}
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        for n in (4, max(16, cpus)):
            spark.conf.set(key, str(n))
            out[n] = _rows(q(spark, SF_DIR_001))
    finally:
        spark.conf.set(key, before)
    (a, b) = out.values()
    assert a and a == b
