"""Durable mid-fixpoint checkpoints for the Pregel loop (P16).

The reference checkpoints per-superstep message state and recovers a
job FROM superstep k after a failure
(core/src/main/java/org/apache/hama/bsp/ft/AsyncRcvdMsgCheckpointImpl.java:69-358,
intervals configured by conf/hama-default.xml:164-175, replay semantics
exercised by core/src/test/java/org/apache/hama/bsp/TestCheckpoint.java).
Spark's reliable ``checkpoint()`` survives executor loss but not a DRIVER
crash — a PageRank run dying at superstep 40/50 on preemptible
infrastructure restarts from zero. This module closes that gap: the
loop persists ``(superstep, vertex parquet, pending inbox parquet,
aggregator state)`` every ``checkpoint_interval`` supersteps under a
caller-supplied ``recover_dir``, and a restarted call with the same
``recover_dir`` resumes from the last COMMITTED superstep.

Commit discipline (same manifest-last rule as ``extensions.runner`` /
``sources.lake``): the parquet directories are written first, the JSON
manifest ``_PREGEL_COMMITTED`` last — a crash mid-write leaves no
manifest and the half-written step is invisible to recovery. A
``fingerprint`` string (hash of the caller's algorithm parameters) is
stored and compared on resume so a checkpoint from a DIFFERENT job in
the same directory raises instead of silently resuming the wrong
fixpoint. Older committed steps beyond ``retain`` are pruned only
AFTER the new step commits, so at least one recoverable step exists at
all times.

What is persisted is exactly the loop-carried state and nothing else:
vertices (post-compute for superstep s), the messages already sent for
superstep s+1 (Hama's "received message" checkpoint — recomputing them
would need the pre-compute vertex state that no longer exists), and the
driver-side scalars (num_vertices after mutation, num_messages,
aggregates/prev_aggregates). Aggregator values must be
JSON-serializable (they are one collected Row of numeric/string
aggregates by construction).
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from hama_spark.sources.lake import _fs_and_path

MANIFEST = "_PREGEL_COMMITTED"
_STEP_RE = re.compile(r"step=(\d+)")


def _step_dir(recover_dir: str, superstep: int) -> str:
    return f"{recover_dir}/step={superstep:06d}"


def _read_json(spark: SparkSession, path: str) -> dict | None:
    fs, jpath, jvm = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # py4j does not propagate in-place buffer mutation; IOUtils copies
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_json(spark: SparkSession, path: str, payload: dict) -> None:
    fs, jpath, _ = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(json.dumps(payload, sort_keys=True).encode("utf-8"))
    finally:
        out.close()


def committed_steps(spark: SparkSession, recover_dir: str) -> list[int]:
    """Supersteps with a committed checkpoint under ``recover_dir``,
    ascending. A step directory without the manifest (crashed write)
    is ignored."""
    fs, jpath, jvm = _fs_and_path(spark, recover_dir)
    if not fs.exists(jpath):
        return []
    steps = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        m = _STEP_RE.fullmatch(name)
        if m and fs.exists(
            jvm.org.apache.hadoop.fs.Path(status.getPath(), MANIFEST)
        ):
            steps.append(int(m.group(1)))
    return sorted(steps)


def save_checkpoint(
    recover_dir: str,
    superstep: int,
    vertices: DataFrame,
    inbox: DataFrame | None,
    state: dict[str, Any],
    fingerprint: str,
    retain: int = 2,
) -> None:
    """Commit one recoverable superstep: vertices + pending inbox as
    parquet, then the manifest, then prune steps beyond ``retain``."""
    spark = vertices.sparkSession
    sdir = _step_dir(recover_dir, superstep)
    vertices.write.mode("overwrite").parquet(f"{sdir}/vertices")
    if inbox is not None:
        inbox.write.mode("overwrite").parquet(f"{sdir}/inbox")
    _write_json(
        spark,
        f"{sdir}/{MANIFEST}",
        {
            "superstep": superstep,
            "fingerprint": fingerprint,
            "has_inbox": inbox is not None,
            "state": state,
        },
    )
    fs, _, jvm = _fs_and_path(spark, recover_dir)
    # Prune only steps THIS job committed — a shared recover_dir must
    # never lose another in-flight job's recovery points, and another
    # job's HIGHER step numbers must not push this job's newest steps
    # into the prune window: filter to this fingerprint FIRST, then
    # keep the newest `retain` of that same-fingerprint list.
    mine = []
    for step in committed_steps(spark, recover_dir):
        odir = _step_dir(recover_dir, step)
        try:
            m = _read_json(spark, f"{odir}/{MANIFEST}")
        except (ValueError, OSError):  # unreadable manifest: not mine
            continue
        if m is not None and m.get("fingerprint") == fingerprint:
            mine.append(step)
    # clamp retain to >= 1: the just-committed step must survive its own
    # prune (retain=0 would otherwise delete EVERY step including the
    # one this call just wrote, violating the module invariant that at
    # least one recoverable step exists at all times)
    for old in mine[: -max(retain, 1)]:
        odir = _step_dir(recover_dir, old)
        fs.delete(jvm.org.apache.hadoop.fs.Path(odir), True)


def clear_checkpoints(
    spark: SparkSession, recover_dir: str, fingerprint: str | None = None
) -> None:
    """Delete step checkpoints under ``recover_dir``. Called by the
    Pregel loop on SUCCESSFUL completion: a finished run's checkpoints
    must not survive, or a LATER run with the same directory and
    fingerprint would silently resume the finished fixpoint's final
    state instead of computing over its own input.

    With a ``fingerprint`` (what the loop passes), a committed step is
    deleted only when its manifest carries the SAME fingerprint —
    a recover_dir shared (even accidentally) with another in-flight job
    keeps that job's crash checkpoints intact. In that scoped mode a
    manifest-less step directory is ALSO spared: it may be another job
    mid-write (parquet down, manifest not yet), and ownership of a
    half-write cannot be established without a manifest — so SCOPED
    sweeps never remove half-written debris, not even this job's own
    crashed writes (they carry no fingerprint to match). Such debris
    accumulates until an explicit ``fingerprint=None`` reset of the
    directory; that is the deliberate trade — deleting an unowned
    half-write could destroy another in-flight job's step mid-commit.
    An unreadable or corrupt manifest is treated as not-mine (spared)
    rather than aborting the sweep. Directories that don't match
    ``step=NNNNNN`` are never touched. Passing ``fingerprint=None``
    keeps the old sweep-everything behavior (including manifest-less
    debris) for explicit directory resets."""
    fs, jpath, jvm = _fs_and_path(spark, recover_dir)
    if not fs.exists(jpath):
        return
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not _STEP_RE.fullmatch(name):
            continue
        if fingerprint is not None:
            mpath = jvm.org.apache.hadoop.fs.Path(status.getPath(), MANIFEST)
            if not fs.exists(mpath):
                continue  # possibly another job mid-write: spare it
            try:
                m = _read_json(spark, f"{recover_dir}/{name}/{MANIFEST}")
            except (ValueError, OSError):
                continue  # unreadable manifest: treat as not-mine
            if m is None or m.get("fingerprint") != fingerprint:
                continue
        fs.delete(status.getPath(), True)


def load_checkpoint(
    spark: SparkSession, recover_dir: str, fingerprint: str
) -> dict | None:
    """Latest committed checkpoint WITH THIS JOB'S ``fingerprint``, or
    None when the directory holds none at all (fresh start). Scans
    newest-to-oldest so a shared recover_dir where another job holds
    HIGHER superstep numbers still resumes this job's own newest step.
    Raises when committed checkpoints exist but every readable one was
    written by a different job — resuming (or silently restarting over)
    someone else's fixpoint must be impossible, not silent. Unreadable
    manifests (corrupt / pruned between list and read) are skipped."""
    steps = committed_steps(spark, recover_dir)
    if not steps:
        return None
    others: list[str] = []
    for last in reversed(steps):
        sdir = _step_dir(recover_dir, last)
        try:
            manifest = _read_json(spark, f"{sdir}/{MANIFEST}")
        except (ValueError, OSError):
            continue
        if manifest is None:
            continue
        if manifest.get("fingerprint") != fingerprint:
            others.append(manifest.get("fingerprint"))
            continue
        vertices = spark.read.parquet(f"{sdir}/vertices")
        inbox = (
            spark.read.parquet(f"{sdir}/inbox")
            if manifest["has_inbox"]
            else None
        )
        return {
            "superstep": int(manifest["superstep"]),
            "vertices": vertices,
            "inbox": inbox,
            "state": manifest["state"],
        }
    if others:
        # str() each fingerprint: a foreign manifest MISSING the key
        # yields None, and sorting None against str raises TypeError,
        # masking this descriptive error
        raise ValueError(
            f"pregel recover_dir {recover_dir!r} holds checkpoints only for "
            f"different job(s) (fingerprints {sorted({str(f) for f in others})!r} != "
            f"{fingerprint!r}); point recover_dir at a fresh directory"
        )
    return None
