"""Multi-JVM smoke: the local-cluster validation harness keeps passing
at fixture scale every round, not just in the round it was written.

Runs ``scripts/cluster_validate.py`` in a SUBPROCESS (PySpark allows
one SparkContext per process, and the suite's session fixture owns this
one) against a tiny graph under ``local-cluster[2,2,1536]`` — real
separate executor JVMs, so the assertions actually cross process
boundaries: an sssp fixpoint killed mid-run and resumed from its
durable checkpoint must hash-match the uninterrupted run, and the
bucketed join must plan exchange-free with the same row hash as the
shuffled twin. The full-size artifact lives in CLUSTER_r{N}.json; this
is the regression fence."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_local_cluster_checks_smoke(tmp_path):
    out = tmp_path / "cluster_smoke.json"
    env = {
        **os.environ,
        "SPARK_GRAFT_CLUSTER_OUT": str(out),
        "SPARK_GRAFT_LC_WORKERS": "2",
        "SPARK_GRAFT_LC_CORES": "2",
        "SPARK_GRAFT_LC_MEM_MB": "1536",
        "SPARK_GRAFT_LC_GRAPH_N": "20000",
    }
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "cluster_validate.py"),
            "co_located_join",
            "recovery_10x",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    d = json.loads(out.read_text())
    assert d["executors_seen"] == 2, d
    rec = d["checks"]["recovery_10x"]
    assert rec.get("crashed") is True, rec
    assert rec.get("hash_match") is True, rec
    cj = d["checks"]["co_located_join"]
    assert cj.get("hash_match") is True, cj
    assert cj.get("rows_match") is True, cj
    assert cj.get("join_exchange_free") is True, cj
    # the plain-parquet twin really did shuffle both sides — the
    # contrast the bucketed layout exists to remove
    assert cj.get("plain_join_shuffles", 0) >= 2, cj
    # r7 verdict item 7 — loose wall-clock fence: a regression that
    # re-introduces an Exchange into the bucketed path shows up here as
    # bucketed ~= shuffled, long before the next 100x-tier run would
    # catch it. 1.2x + 1s slack because smoke-scale timings are
    # second-scale and share a loaded CI box; the plan assertion above
    # stays the exact check, this is the belt-and-braces timing one.
    assert cj["bucketed_sec"] <= cj["shuffled_sec"] * 1.2 + 1.0, cj
