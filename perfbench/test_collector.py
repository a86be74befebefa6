"""Self-test of the status-store collector and the span writer.

    python3 -m pytest perfbench/test_collector.py -q

Needs a local Spark; runs in about half a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
from collector import Collector  # noqa: E402
from tracing import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    work = run.ROOT / ".bench_work" / f"selftest-{os.getpid()}"
    run.isolate(work, 2)
    sys.path.insert(0, str(run.ROOT))
    from hama_spark import get_spark

    s = get_spark(app_name="perfbench-selftest")
    yield s
    run.stop_spark(s)
    shutil.rmtree(work, ignore_errors=True)


def two_stage_groupby(spark):
    # one shuffle: a map stage writing it and a result stage reading it
    return spark.range(0, 20_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()


def measured(collector: Collector, fn):
    with collector.group("selftest") as gid:
        fn()
    return collector.read(gid)


def test_two_stage_groupby_counts(spark):
    c = measured(Collector(spark), lambda: two_stage_groupby(spark).collect())
    assert c.stages == 2
    assert c.tasks >= 2
    assert c.shuffle_write_mb > 0 and c.shuffle_read_mb > 0
    assert c.task_run_s > 0


def test_identical_calls_report_identical_counts(spark):
    collector = Collector(spark)
    first = measured(collector, lambda: two_stage_groupby(spark).collect())
    second = measured(collector, lambda: two_stage_groupby(spark).collect())
    for name in ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb"):
        assert getattr(first, name) == getattr(second, name), name


def test_group_ids_are_never_reused(spark):
    assert Collector(spark).new_group("x") != Collector(spark).new_group("x")


def test_skipped_stages_are_not_counted(spark):
    # a second action on the same DataFrame reuses the first one's
    # shuffle output: its jobs list those map stages again, as skipped
    df = two_stage_groupby(spark).repartition(3, "k")
    collector = Collector(spark)
    first = measured(collector, df.collect)
    with collector.group("selftest") as gid:
        df.collect()
    again = collector.read(gid)
    store = spark.sparkContext._jsc.sc().statusStore()
    listed = sum(
        store.job(j).stageIds().size()
        for j in spark.sparkContext.statusTracker().getJobIdsForGroup(gid)
    )
    assert again.stages < listed
    assert again.stages < first.stages
    assert again.shuffle_write_mb == 0


def test_spans_nest_and_are_written(spark, tmp_path):
    tracer = Tracer(Collector(spark))
    with tracer.trace("job0", "job"):
        with tracer.span("operators.query"):
            two_stage_groupby(spark).collect()
    root, child = tracer.spans
    assert child.parent == root.span_id and child.trace_id == root.trace_id == "job0"
    assert root.start <= child.start <= child.end <= root.end
    assert child.counters["stages"] == 2
    out = tmp_path / "spans.json"
    tracer.write(str(out))
    assert [s["name"] for s in json.loads(out.read_text())] == ["job", "operators.query"]


def test_tracing_off_records_nothing(spark):
    tracer = Tracer(None)
    with tracer.trace("job0", "job"):
        with tracer.span("operators.query"):
            two_stage_groupby(spark).collect()
    assert tracer.spans == [] and not tracer.by_trace
