"""Mid-fixpoint driver-crash recovery (P16): kill the Pregel loop at
superstep k, rerun with the same recover_dir, and the resumed run
hash-matches the uninterrupted run — the Spark analogue of the
reference's superstep recovery (bsp/ft/AsyncRcvdMsgCheckpointImpl.java:
69-358, replay semantics per bsp/TestCheckpoint.java)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import importlib

# the package __init__ re-exports shadow the submodule attribute names
pagerank_mod = importlib.import_module("hama_spark.graph.pagerank")
sssp_mod = importlib.import_module("hama_spark.graph.sssp")
from hama_spark.plans.recovery import committed_steps, load_checkpoint


def _line_edges(spark, n=12):
    # 0 -> 1 -> ... -> n-1, weight 1: diameter n-1, deep fixpoint
    return spark.range(n - 1).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") + 1).cast("string").alias("dst"),
        F.lit(1).cast("int").alias("weight"),
    )


def _killing_pregel(real_pregel, kill_at, seen):
    """Wrap pregel so the user compute callback records supersteps and
    raises at ``kill_at`` — a driver-side crash mid-fixpoint."""

    def wrapper(vertices, edges, compute, **kw):
        def crashing_compute(df, ctx):
            seen.append(ctx.superstep)
            if kill_at is not None and ctx.superstep == kill_at:
                raise RuntimeError("simulated driver crash")
            return compute(df, ctx)

        return real_pregel(vertices, edges, compute=crashing_compute, **kw)

    return wrapper


def test_sssp_resumes_from_last_committed_superstep(spark, tmp_path, monkeypatch):
    edges = _line_edges(spark, 12)
    rdir = str(tmp_path / "sssp_ckpt")

    expected = sorted(
        tuple(r) for r in sssp_mod.sssp(edges, "0", checkpoint_interval=2).collect()
    )

    # crash at superstep 5; checkpoints committed at supersteps 1 and 3
    real = sssp_mod.pregel
    seen_crash: list[int] = []
    monkeypatch.setattr(sssp_mod, "pregel", _killing_pregel(real, 5, seen_crash))
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        sssp_mod.sssp(edges, "0", checkpoint_interval=2, recover_dir=rdir)
    assert committed_steps(spark, rdir) == [1, 3]

    # rerun: must resume from superstep 4 (last committed + 1), never
    # re-execute supersteps <= 3, and match the uninterrupted result
    seen_resume: list[int] = []
    monkeypatch.setattr(sssp_mod, "pregel", _killing_pregel(real, None, seen_resume))
    resumed = sssp_mod.sssp(edges, "0", checkpoint_interval=2, recover_dir=rdir)
    assert sorted(tuple(r) for r in resumed.collect()) == expected
    assert min(seen_resume) == 4, seen_resume


def test_pagerank_resume_matches_uninterrupted_run(spark, tmp_path, monkeypatch):
    # ring + halving chords (i -> i//2): in-degrees are SKEWED, so the
    # rank vector is non-uniform and needs many supersteps — a regular
    # graph would converge to the exact-uniform fixpoint in one step
    n = 20
    ring = spark.range(n).select(
        F.col("id").cast("string").alias("src"),
        (F.pmod(F.col("id") + 1, F.lit(n))).cast("string").alias("dst"),
    )
    chords = spark.range(n).select(
        F.col("id").cast("string").alias("src"),
        F.floor(F.col("id") / 2).cast("string").alias("dst"),
    )
    edges = ring.union(chords)
    rdir = str(tmp_path / "pr_ckpt")

    kw = dict(epsilon=1e-9, max_iter=12, checkpoint_interval=3)
    expected = sorted(
        (r["id"], round(r["rank"], 12))
        for r in pagerank_mod.pagerank(edges, **kw).collect()
    )

    real = pagerank_mod.pregel
    seen: list[int] = []
    monkeypatch.setattr(pagerank_mod, "pregel", _killing_pregel(real, 8, seen))
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        pagerank_mod.pagerank(edges, recover_dir=rdir, **kw)
    assert committed_steps(spark, rdir) == [2, 5]

    seen2: list[int] = []
    monkeypatch.setattr(pagerank_mod, "pregel", _killing_pregel(real, None, seen2))
    resumed = pagerank_mod.pagerank(edges, recover_dir=rdir, **kw)
    got = sorted((r["id"], round(r["rank"], 12)) for r in resumed.collect())
    assert got == expected
    # aggregator state (err) survived the crash via the JSON manifest
    assert min(seen2) == 6, seen2


def test_checkpoint_retention_prunes_older_steps(spark, tmp_path):
    edges = _line_edges(spark, 12)
    rdir = str(tmp_path / "retain")
    sssp_mod.sssp(edges, "0", checkpoint_interval=2, recover_dir=rdir)
    steps = committed_steps(spark, rdir)
    assert len(steps) <= 2  # save_checkpoint's default retain=2
    assert steps == sorted(steps)


def test_fingerprint_mismatch_raises_instead_of_resuming(
    spark, tmp_path, monkeypatch
):
    edges = _line_edges(spark, 8)
    rdir = str(tmp_path / "fp")
    # only a CRASHED run leaves checkpoints behind (completed runs clear
    # them — see test_completed_run_clears_checkpoints)
    real = sssp_mod.pregel
    monkeypatch.setattr(sssp_mod, "pregel", _killing_pregel(real, 4, []))
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        sssp_mod.sssp(edges, "0", checkpoint_interval=2, recover_dir=rdir)
    assert committed_steps(spark, rdir), "crash must leave committed steps"
    monkeypatch.setattr(sssp_mod, "pregel", real)
    with pytest.raises(ValueError, match="different job"):
        # different start vertex => different fingerprint, same dir
        sssp_mod.sssp(edges, "1", checkpoint_interval=2, recover_dir=rdir)


def test_completed_run_clears_checkpoints(spark, tmp_path):
    """A finished fixpoint must leave NO resumable state: a later run
    with the same dir+fingerprint over different data would otherwise
    silently resume the finished run's final vertices."""
    edges = _line_edges(spark, 8)
    rdir = str(tmp_path / "done")
    first = sorted(
        tuple(r)
        for r in sssp_mod.sssp(
            edges, "0", checkpoint_interval=2, recover_dir=rdir
        ).collect()
    )
    assert committed_steps(spark, rdir) == []
    # same fingerprint, LONGER line: must compute fresh, not resume
    edges2 = _line_edges(spark, 10)
    second = sssp_mod.sssp(
        edges2, "0", checkpoint_interval=2, recover_dir=rdir
    ).collect()
    assert len(second) == 10 and len(first) == 8
    assert max(int(r["dist"]) for r in second) == 9


def test_uncommitted_step_dir_is_invisible(spark, tmp_path):
    """Manifest-last: a step directory without _PREGEL_COMMITTED (crash
    mid-write) is ignored by recovery."""
    rdir = tmp_path / "halfwrite"
    (rdir / "step=000007" / "vertices").mkdir(parents=True)
    assert committed_steps(spark, str(rdir)) == []
    assert load_checkpoint(spark, str(rdir), "x") is None


def test_clear_checkpoints_spares_other_jobs_steps(spark, tmp_path):
    """r6 ADVICE: completing in a recover_dir shared with another
    in-flight job must only sweep THIS job's (same-fingerprint) steps —
    never the other job's recovery points. r7 ADVICE: a manifest-less
    step dir may be the OTHER job mid-write (parquet down, manifest not
    yet), so the scoped sweep spares it too; only the fingerprint-less
    reset clears everything."""
    from hama_spark.plans.recovery import clear_checkpoints, save_checkpoint

    rdir = str(tmp_path / "shared")
    vs = spark.range(3).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 4, vs, None, {"s": 1}, "jobA")
    save_checkpoint(rdir, 6, vs, None, {"s": 2}, "jobB")
    # manifest-less step: could be jobB mid-write — scoped sweep spares
    (tmp_path / "shared" / "step=000009" / "vertices").mkdir(parents=True)
    # corrupt manifest: treated as not-mine, spared, sweep not aborted
    cdir = tmp_path / "shared" / "step=000011"
    cdir.mkdir(parents=True)
    (cdir / "_PREGEL_COMMITTED").write_text("{not json")

    clear_checkpoints(spark, rdir, "jobA")
    assert committed_steps(spark, rdir) == [6, 11]
    assert (tmp_path / "shared" / "step=000009").exists()
    assert (cdir / "_PREGEL_COMMITTED").exists()
    ck = load_checkpoint(spark, rdir, "jobB")
    assert ck["superstep"] == 6 and ck["state"] == {"s": 2}

    clear_checkpoints(spark, rdir)  # explicit reset: no fingerprint
    assert committed_steps(spark, rdir) == []
    assert not (tmp_path / "shared" / "step=000009").exists()


def test_retention_prune_spares_other_jobs_steps(spark, tmp_path):
    """save_checkpoint's retain-pruning must also be fingerprint-scoped:
    jobB's single old step survives jobA committing many."""
    from hama_spark.plans.recovery import save_checkpoint

    rdir = str(tmp_path / "shared2")
    vs = spark.range(2).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 2, vs, None, {}, "jobB")
    for step in (4, 6, 8, 10):
        save_checkpoint(rdir, step, vs, None, {}, "jobA", retain=2)
    steps = committed_steps(spark, rdir)
    assert 2 in steps, "jobB's step must survive jobA's retention"
    assert steps[-2:] == [8, 10]


def test_retention_prune_survives_other_jobs_higher_steps(spark, tmp_path):
    """r7 ADVICE medium: the retain window must be computed over THIS
    job's same-fingerprint steps, not the global step list — another
    job's HIGHER superstep numbers must not push this job's newest
    steps (including the one just committed) into the prune window."""
    from hama_spark.plans.recovery import load_checkpoint, save_checkpoint

    rdir = str(tmp_path / "shared3")
    vs = spark.range(2).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 50, vs, None, {"s": "B"}, "jobB")
    save_checkpoint(rdir, 52, vs, None, {"s": "B"}, "jobB")
    for step in (2, 4, 6):
        save_checkpoint(rdir, step, vs, None, {"s": step}, "jobA", retain=2)
    steps = committed_steps(spark, rdir)
    assert {4, 6} <= set(steps), "jobA's newest steps must survive"
    assert 2 not in steps, "jobA's own oldest is still pruned"
    assert {50, 52} <= set(steps), "jobB untouched"
    # and recovery finds jobA's OWN newest step despite jobB's higher
    # superstep numbers sorting after it
    ck = load_checkpoint(spark, rdir, "jobA")
    assert ck["superstep"] == 6 and ck["state"] == {"s": 6}


def test_corrupt_manifest_is_skipped_not_fatal(spark, tmp_path):
    """An unreadable manifest must not abort retention pruning, the
    completion sweep, or recovery — it is treated as not-mine."""
    from hama_spark.plans.recovery import load_checkpoint, save_checkpoint

    rdir = str(tmp_path / "corrupt")
    vs = spark.range(2).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 2, vs, None, {"s": 2}, "jobA")
    cdir = tmp_path / "corrupt" / "step=000008"
    cdir.mkdir(parents=True)
    (cdir / "_PREGEL_COMMITTED").write_text("{definitely not json")
    # prune path reads every manifest; the corrupt one must be skipped
    save_checkpoint(rdir, 4, vs, None, {"s": 4}, "jobA", retain=1)
    assert committed_steps(spark, rdir) == [4, 8]
    # recovery scans newest-first: corrupt step 8 skipped, step 4 found
    ck = load_checkpoint(spark, rdir, "jobA")
    assert ck["superstep"] == 4 and ck["state"] == {"s": 4}


def test_retain_zero_keeps_just_committed_step(spark, tmp_path):
    """r8 ADVICE low: retain <= 0 must not delete the step the call
    just committed — the module invariant is that at least one
    recoverable step exists at all times (retain is clamped to 1)."""
    from hama_spark.plans.recovery import load_checkpoint, save_checkpoint

    rdir = str(tmp_path / "retain0")
    vs = spark.range(2).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 2, vs, None, {"s": 2}, "jobA", retain=0)
    save_checkpoint(rdir, 4, vs, None, {"s": 4}, "jobA", retain=0)
    assert committed_steps(spark, rdir) == [4]
    ck = load_checkpoint(spark, rdir, "jobA")
    assert ck["superstep"] == 4 and ck["state"] == {"s": 4}


def test_foreign_manifest_without_fingerprint_raises_descriptive(spark, tmp_path):
    """r8 ADVICE low: a foreign manifest MISSING the fingerprint key
    must still produce the descriptive ValueError (None used to make
    sorted() raise TypeError and mask it)."""
    import json as _json

    import pytest

    from hama_spark.plans.recovery import load_checkpoint, save_checkpoint

    rdir = str(tmp_path / "nofp")
    vs = spark.range(2).select(F.col("id"), F.lit(0).alias("x"))
    save_checkpoint(rdir, 2, vs, None, {"s": 2}, "jobB")
    mpath = tmp_path / "nofp" / "step=000002" / "_PREGEL_COMMITTED"
    m = _json.loads(mpath.read_text())
    del m["fingerprint"]
    mpath.write_text(_json.dumps(m))
    # drop the Hadoop LocalFileSystem checksum sibling: rewriting the
    # manifest directly invalidates it and the read would die with a
    # ChecksumException instead of exercising the None-fingerprint path
    crc = mpath.parent / f".{mpath.name}.crc"
    if crc.exists():
        crc.unlink()
    with pytest.raises(ValueError, match="different job"):
        load_checkpoint(spark, rdir, "jobA")
