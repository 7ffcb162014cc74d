"""Round-5 directive #1 — the pluggable metadata-commit backend.

The exactly-once snapshot protocol is parametrized over a three-primitive
storage seam (plans/commit_backend.py): POSIX (fsync+link/replace) and an
object-store-semantics emulator (conditional PUT / atomic whole-object PUT,
no rename/link/fsync in the contract). Every test here runs under BOTH
backends; the protocol-level legs (conflict, torn-file quarantine,
crash-between-claim-and-pointer roll-forward, tag create-once, expire,
clone) mirror the POSIX-only versions elsewhere in the suite so a backend
swap cannot silently weaken a crash guarantee.

Reference analog: the dual local/AWS deployment switch
(`scripts/pipelines/model_data.py:220-225`) — one config flag, same pipeline
on top.
"""

import glob
import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.commit_backend import (
    CommitBackend,
    ObjectStoreCommitBackend,
    PosixCommitBackend,
    backend_from_env,
)
from etl_geo_dem_spark.plans.lake_table import CommitConflict, LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes

BACKENDS = [PosixCommitBackend, ObjectStoreCommitBackend]
CFG = EngineConfig(merge_mode="mor")


@pytest.fixture(params=BACKENDS, ids=lambda c: c.name)
def backend(request):
    return request.param()


def _mk(spark, warehouse, backend, name="t", n_epochs=2, n=800):
    t = LakeTable.create(
        spark, os.path.join(warehouse, name), STATE_SCHEMA,
        n_buckets=4, backend=backend,
    )
    ch = generate_changes(
        spark, n, n_conv=20, turns_per_conv=6, n_epochs=n_epochs, n_partitions=4
    )
    for e in range(n_epochs):
        apply_changes(t, ch.filter(F.col("epoch") == e), e, CFG)
    return t


# ------------------------------------------------------------- primitives

def test_put_if_absent_win_once_under_concurrency(backend, tmp_path):
    """N racing conditional PUTs on one name: exactly one winner, and the
    published object is one complete racer's payload (never a mix)."""
    target = str(tmp_path / "v1.json")
    wins = []

    def racer(i):
        if backend.put_if_absent(target, json.dumps({"racer": i}).encode()):
            wins.append(i)

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(16)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(wins) == 1
    with open(target) as f:
        assert json.load(f) == {"racer": wins[0]}
    # loser afterwards: still refused, object untouched
    assert not backend.put_if_absent(target, b"late")
    with open(target) as f:
        assert json.load(f)["racer"] == wins[0]


def test_put_atomic_last_writer_wins_and_delete_idempotent(backend, tmp_path):
    p = str(tmp_path / "_current")
    backend.put_atomic(p, b"1")
    backend.put_atomic(p, b"2")
    with open(p, "rb") as f:
        assert f.read() == b"2"
    assert backend.delete(p) is True
    assert backend.delete(p) is False  # idempotent, reports vacancy


def test_staging_never_visible_under_engine_globs(backend, tmp_path):
    """No engine namespace glob (v*.json, *.json, epoch_*.json) may ever see
    a staging artifact — a reader that lists mid-publish sees only complete
    published objects."""
    d = str(tmp_path / "_snapshots")
    backend.ensure_prefix(d)
    backend.put_if_absent(os.path.join(d, "v00000001.json"), b"{}")
    backend.put_atomic(os.path.join(d, "fl-abc.json"), b"[]")
    listed = {os.path.basename(p) for p in glob.glob(os.path.join(d, "*"))}
    assert listed == {"v00000001.json", "fl-abc.json"}
    assert glob.glob(os.path.join(d, "*.tmp")) == []


def test_backend_from_env_selection(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_COMMIT_BACKEND", raising=False)
    assert backend_from_env().name == "posix"
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_BACKEND", "objectstore")
    assert backend_from_env().name == "objectstore"
    monkeypatch.setenv("SPARK_GRAFT_COMMIT_BACKEND", "nope")
    with pytest.raises(ValueError):
        backend_from_env()


def test_objectstore_contract_has_no_posix_tricks():
    """The emulator's *contract* surface is the object-store one: the engine
    must never call anything beyond the four seam methods, so a real S3/GCS
    client drops in. Guard: the seam is exactly these methods."""
    public = {m for m in dir(CommitBackend) if not m.startswith("_")}
    assert public == {"name", "put_if_absent", "put_atomic", "delete", "ensure_prefix"}


# ------------------------------------------- protocol under each backend

def test_table_lifecycle_round_trip(spark, warehouse, backend):
    t = _mk(spark, warehouse, backend)
    assert t.current_version() >= 3  # create + 2 epochs
    n = t.read().count()
    assert n > 0
    # time travel still works: v2 state is a subset of epochs
    assert t.read(version=2).count() <= n


def test_commit_conflict_is_win_once(spark, warehouse, backend):
    t = _mk(spark, warehouse, backend, n_epochs=1)
    snap = t.snapshot_meta(t.current_version())
    loser = {**snap, "version": t.current_version() + 1}
    t._commit_snapshot(dict(loser))
    with pytest.raises(CommitConflict):
        t._commit_snapshot(dict(loser))


def test_torn_snapshot_quarantined_and_commit_proceeds(spark, warehouse, backend):
    """A torn v*.json (pre-protocol crash artifact) must be quarantined by
    the roll-forward on EITHER backend, and the slot reclaimed."""
    t = _mk(spark, warehouse, backend, n_epochs=1)
    v = t.current_version()
    torn = t._snap_path(v + 1)
    with open(torn, "w") as f:
        f.write('{"version": ')  # torn: planted raw, bypassing the backend
    assert t.current_version() == v  # reader rolls past it
    assert not os.path.exists(torn)  # quarantined out of the namespace
    assert glob.glob(torn + ".corrupt-*")
    snap = t.snapshot_meta(v)
    t._commit_snapshot({**snap, "version": v + 1})
    assert t.current_version() == v + 1


def test_crash_between_claim_and_pointer_rolls_forward(spark, warehouse, backend):
    t = _mk(spark, warehouse, backend, n_epochs=1)
    v = t.current_version()
    snap = t.snapshot_meta(v)
    # simulate the crash: version slot claimed, pointer never swapped
    claimed = {**snap, "version": v + 1}
    assert t.backend.put_if_absent(
        t._snap_path(v + 1), json.dumps(claimed).encode()
    )
    t2 = LakeTable(spark, t.path, backend=backend)
    assert t2.current_version() == v + 1  # roll-forward repaired it


def test_tag_create_once_and_expire(spark, warehouse, backend):
    t = _mk(spark, warehouse, backend)
    v = t.current_version()
    t.create_tag("keepme", version=v)
    with pytest.raises(FileExistsError):
        t.create_tag("keepme", version=v - 1)
    assert t.tags() == {"keepme": v}
    out = t.expire_snapshots(keep_versions=1)
    assert v not in out["snapshots_removed"]  # pointer + tag survive
    t.delete_tag("keepme")
    with pytest.raises(KeyError):
        t.delete_tag("keepme")


def test_clone_under_backend(spark, warehouse, backend):
    t = _mk(spark, warehouse, backend)
    dest = t.clone(os.path.join(warehouse, "replica"))
    assert dest.backend is t.backend
    assert dest.read().count() == t.read().count()
    assert sorted(r["version"] for r in dest.history()) == sorted(
        r["version"] for r in t.history()
    )


def test_two_os_processes_write_concurrently_no_lost_update(
    spark, warehouse, backend
):
    """The real multi-writer story, cross-PROCESS: two independent driver
    processes (own JVMs, own SparkSessions) apply disjoint change streams to
    ONE table concurrently under their own stream_ids, racing on every
    version slot. Exactly-once must hold end-to-end: the version chain is
    contiguous (every conflict loser retried onto the next slot — no lost
    update, no gap), and the final state equals a single-writer sequential
    replay of both streams."""
    import subprocess
    import sys as _sys

    from etl_geo_dem_spark.plans.merge import apply_changes as _apply

    path = os.path.join(warehouse, "multiproc")
    LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=4, backend=backend)
    env = {**os.environ, "SPARK_GRAFT_COMMIT_BACKEND": backend.name}
    here = os.path.dirname(os.path.abspath(__file__))
    procs = [
        subprocess.Popen(
            [_sys.executable, os.path.join(here, "_concurrent_writer.py"),
             path, prefix, "3"],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )
        for prefix in ("wa", "wb")
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-3000:]
    assert "DONE wa" in outs[0] and "DONE wb" in outs[1]

    t = LakeTable(spark, path, backend=backend)
    # contiguous version chain: every committed version is present — a
    # conflict loser that gave up (or a claim that vanished) would leave a gap
    versions = sorted(r["version"] for r in t.history())
    assert versions == list(range(1, t.current_version() + 1))
    assert t.current_version() == 1 + 6  # create + 2 writers x 3 epochs

    # single-writer oracle: same two streams applied sequentially
    from tests._concurrent_writer import stream

    ref = LakeTable.create(
        spark, os.path.join(warehouse, "multiproc_ref"), STATE_SCHEMA,
        n_buckets=4, backend=backend,
    )
    for prefix in ("wa", "wb"):
        ch = stream(spark, prefix, 3)
        for e in range(3):
            _apply(
                ref, ch.filter(F.col("epoch") == e), e, CFG, stream_id=prefix
            )
    got = t.read_public().orderBy("conv_id", "turn_idx").toPandas()
    exp = ref.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) == len(exp) > 0
    for col in ("conv_id", "turn_idx", "ts", "text"):
        assert got[col].fillna("∅").tolist() == exp[col].fillna("∅").tolist(), col
