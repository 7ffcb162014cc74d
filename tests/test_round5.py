"""Round-5 tests, part 1 — the ADVICE r4 fixes and the metadata-tier
directives: legacy-inline-ref CDF/sync, transient-OSError quarantine
discipline, schema-derived NaN-safe float pruning, best-effort DML fast
path, evidence-gated sync_from drop mirroring, driver-side xxhash64
bucket routing, vacuum without snapshot materialization, and stats
pruning through column renames."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.functions.hashing import bucket_of_py, spark_xxhash64
from etl_geo_dem_spark.plans.lake_table import LakeTable, prune_files
from etl_geo_dem_spark.plans.merge import apply_changes, delete_where, sync_from
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes

CFG = EngineConfig(merge_mode="mor")


def _mk_table(spark, warehouse, name="t", n_epochs=2, n=3000, cfg=CFG):
    t = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, n, n_conv=50, turns_per_conv=8, n_epochs=n_epochs, n_partitions=8)
    for e in range(n_epochs):
        apply_changes(t, ch.filter(F.col("epoch") == e), e, cfg)
    return t, ch


# --------------------------------------------- driver-side xxhash64 (next #5)

def test_python_xxhash64_matches_spark(spark):
    """Pin the pure-Python XXH64 byte-equal to F.xxhash64 across the type
    routing (string utf-8 incl. unicode/empty/>32B, long/int/short/byte incl.
    negatives, null) — the contract bucket_of/buckets_of rely on."""
    cases = [
        ("string", [
            "", "a", "conv_000001", "0123456789abcdef0123456789abcdef-tail",
            "naïve—☃ unicode", "x" * 100, "5",
        ]),
        ("long", [0, 1, -1, 42, -42, 2**62, -(2**62), 7_777_777_777]),
        ("int", [0, 1, -1, 42, -42, 2**31 - 1, -(2**31)]),
        ("short", [0, 5, -5, 32767, -32768]),
        ("tinyint", [0, 3, -3, 127, -128]),
    ]
    dtypes = {
        "string": T.StringType(), "long": T.LongType(), "int": T.IntegerType(),
        "short": T.ShortType(), "tinyint": T.ByteType(),
    }
    for sql_t, values in cases:
        df = spark.createDataFrame(
            [(v,) for v in values],
            T.StructType([T.StructField("k", dtypes[sql_t])]),
        )
        got = [r[0] for r in df.select(F.xxhash64("k")).collect()]
        want = [spark_xxhash64(v, dtypes[sql_t]) for v in values]
        assert got == want, f"xxhash64 mismatch for {sql_t}"
    # null leaves the hash at the seed
    row = spark.sql("SELECT xxhash64(CAST(NULL AS STRING))").first()
    assert row[0] == spark_xxhash64(None, T.StringType())
    # bucket twin matches the write-path expression
    for v in ["conv_000001", "conv_000042", ""]:
        b = spark.sql(
            f"SELECT CAST(pmod(xxhash64('{v}'), 8) AS INT)"
        ).first()[0]
        assert bucket_of_py(v, T.StringType(), 8) == b


def test_buckets_of_runs_driverside_without_spark(spark, warehouse):
    """buckets_of must not launch a Spark job for string keys: swap the
    session handle for a poison object — any Spark use would AttributeError."""
    t, _ = _mk_table(spark, warehouse, "nospark")
    via_spark = sorted({
        r[0] for r in spark.createDataFrame(
            [("conv_000001",), ("conv_000007",)], "k string"
        ).select(F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")).collect()
    })
    real_spark = t.spark
    t.spark = object()  # poison: any .createDataFrame/.range would blow up
    try:
        assert t.buckets_of(["conv_000001", "conv_000007"]) == via_spark
        # int literal against the string key column coerces driver-side too
        assert t.buckets_of([5]) == t.buckets_of(["5"])
    finally:
        t.spark = real_spark


# ------------------------------------- legacy inline refs in CDF (ADVICE high)

def _legacyize_snapshot(table: LakeTable, version: int) -> None:
    """Rewrite one snapshot JSON on disk to the pre-manifest-tier shape
    (inline "files", no "manifests") — simulating a table written by an old
    engine build. Test-only: planting history, not using the commit path."""
    p = table._snap_path(version)
    meta = json.load(open(p))
    files = []
    for ref in meta.pop("manifests"):
        entries = (
            ref["inline"] if "inline" in ref
            else json.load(open(os.path.join(table._filelists_dir, ref["path"])))
        )
        excl = set(ref.get("exclude_buckets") or [])
        files.extend(e for e in entries if e["bucket"] not in excl)
    meta["files"] = files
    os.remove(p)
    with open(p, "w") as f:
        json.dump(meta, f)


def test_table_changes_over_legacy_inline_snapshot(spark, warehouse):
    """ADVICE r4 high: CDF (and sync_from) over a pre-manifest-tier snapshot
    must not crash on the missing ref 'path' — inline refs count as
    always-touched and the feed is still exact."""
    t, ch = _mk_table(spark, warehouse, "legacy", n_epochs=3)
    v2 = 3  # create=1, epoch0=2, epoch1=3 ... pick a mid version
    _legacyize_snapshot(t, v2)
    t2 = LakeTable(spark, t.path)  # fresh handle, cold caches
    cur = t2.current_version()
    feed = t2.table_changes(v2, cur)  # KeyError 'path' before the fix
    n = feed.count()
    assert n > 0
    # exactness: the feed's keys equal the keys whose VISIBLE state moved
    # between v2 and cur (a tombstone re-tombstoned with a newer stamp is not
    # a visible change and correctly yields no feed row — compare live reads,
    # not include_deleted stamps)
    old = t2.read(version=v2).select(
        "conv_id", "turn_idx", F.col("ts").alias("ots"), F.col("lsn").alias("olsn")
    )
    new = t2.read(version=cur).select(
        "conv_id", "turn_idx", "ts", "lsn"
    )
    moved = (
        new.join(old, ["conv_id", "turn_idx"], "full_outer")
        .filter(~(F.col("ts").eqNullSafe(F.col("ots")) & F.col("lsn").eqNullSafe(F.col("olsn"))))
        .count()
    )
    assert n == moved
    # and the replication consumer runs end-to-end over the legacy base
    dest = t2.clone(os.path.join(warehouse, "legacy_dest"), version=v2)
    dest_sid_epoch = sync_from(dest, t2, CFG)
    assert dest_sid_epoch["status"] != "up_to_date"
    assert (
        dest.read_public().orderBy("conv_id", "turn_idx").collect()
        == t2.read_public().orderBy("conv_id", "turn_idx").collect()
    )


# ------------------------------ transient OSError ≠ quarantine (ADVICE medium)

def test_transient_oserror_does_not_quarantine_committed_snapshot(spark, warehouse, monkeypatch):
    """A transient I/O error while probing a committed-but-unpointed snapshot
    must raise, not quarantine: quarantining would destroy durably committed
    metadata and free the version slot for silent reuse."""
    t, _ = _mk_table(spark, warehouse, "oserr")
    real = t.current_version()
    t._write_pointer(real - 1)  # crash-between-link-and-swap state
    # the committer died, so the repairing reader runs in a fresh process:
    # its metadata cache is cold and the probe really reads the file
    from etl_geo_dem_spark.plans import lake_table as lt_mod

    lt_mod._PARSE_CACHE.clear()
    t2 = LakeTable(spark, t.path)
    target = t2._snap_path(real)
    orig = LakeTable._parse_snapshot_file

    def flaky(self, path):
        if os.path.realpath(path) == os.path.realpath(target):
            raise PermissionError(13, "transient permission blip", path)
        return orig(self, path)

    monkeypatch.setattr(LakeTable, "_parse_snapshot_file", flaky)
    with pytest.raises(OSError):
        t2.current_version()
    monkeypatch.setattr(LakeTable, "_parse_snapshot_file", orig)
    assert os.path.isfile(target), "committed snapshot was quarantined"
    # after the blip clears, the roll-forward repairs the pointer as before
    t3 = LakeTable(spark, t.path)
    assert t3.current_version() == real


# --------------------------- schema-derived NaN-safe pruning (ADVICE low #1)

def test_legacy_float_stats_without_flag_keep_nan_files(spark, warehouse):
    """Files whose stats predate the per-file 'float' flag must still skip
    the unsound max-vs-lo prune when the TABLE SCHEMA says the column is
    float/double — a NaN row satisfies col >= lo even when the recorded
    (NaN-free) max does not."""
    # unit level: the exact legacy descriptor shape
    files = [{"path": "f1", "bucket": 0, "rows": 2, "bytes": 10,
              "stats": {"score": {"min": 1.0, "max": 5.0}}}]  # no 'float' key
    assert prune_files(files, {"score": (100.0, None)}) == []  # legacy bug shape
    assert prune_files(files, {"score": (100.0, None)}, float_cols={"score"}) == files
    # min-side prune stays sound for floats (NaN sorts high, never <= hi)
    assert prune_files(files, {"score": (None, 0.5)}, float_cols={"score"}) == []

    # integration: real table, flags stripped from the sidecar (legacy files)
    schema = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("score", T.DoubleType(), True)]
    )
    t = LakeTable.create(spark, os.path.join(warehouse, "nanlegacy"), schema, n_buckets=4)
    rows = [
        ("a", 0, "user", "x", None, None, 1, False, 1.0),
        ("a", 1, "user", "y", None, None, 2, False, float("nan")),
    ]
    batch = spark.createDataFrame(
        [r + ("I", 0) for r in rows],
        T.StructType(list(schema.fields) + [
            T.StructField("op", T.StringType()), T.StructField("epoch", T.LongType())]),
    )
    apply_changes(t, batch, 0, EngineConfig(merge_mode="cow"))
    t.compact(cluster_by=["score"])
    for p in glob.glob(os.path.join(t._filelists_dir, "fl-*.json")):
        entries = json.load(open(p))
        for e in entries:
            for s in (e.get("stats") or {}).values():
                s.pop("float", None)
        json.dump(entries, open(p, "w"))
    t2 = LakeTable(spark, t.path)
    got = t2.read(stats_filters={"score": (100.0, None)}).collect()
    assert len(got) == 1 and str(got[0]["score"]) == "nan"


# --------------------------------- DML fast path best-effort (ADVICE low #2)

def test_delete_where_type_mismatched_literal_still_works(spark, warehouse):
    """delete_where("conv_id = 5") on a STRING key column must not crash —
    the pruned fast path either coerces the literal or falls back to the
    full scan; the row-level semantics are Spark's own cast rules."""
    schema = STATE_SCHEMA
    t = LakeTable.create(spark, os.path.join(warehouse, "dmlcast"), schema, n_buckets=4)
    rows = [("5", 0, "user", "five", None, None, 1, False),
            ("7", 0, "user", "seven", None, None, 2, False)]
    batch = spark.createDataFrame(
        [r + ("I", 0) for r in rows],
        T.StructType(list(schema.fields) + [
            T.StructField("op", T.StringType()), T.StructField("epoch", T.LongType())]),
    )
    apply_changes(t, batch, 0, EngineConfig(merge_mode="cow"))
    m = delete_where(t, "conv_id = 5", EngineConfig(merge_mode="cow"))
    assert m["status"] == "committed"
    left = [r["conv_id"] for r in t.read_public().collect()]
    assert left == ["7"]


# ----------------------- evidence-gated sync_from mirror (ADVICE medium #2)

def test_sync_refuses_mirror_drop_when_rename_snapshot_expired(spark, warehouse):
    """The expired-rename trap: replica has the OLD column name, source shows
    only the NEW name, the rename snapshot is gone. The old destructive
    behavior mirror-dropped the column (silent data loss); now the sync
    refuses with a actionable error, and replaying the rename manually
    converges."""
    cfg = EngineConfig(merge_mode="cow")
    schema = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("note", T.StringType(), True)]
    )
    src = LakeTable.create(spark, os.path.join(warehouse, "rsrc"), schema, n_buckets=4)
    env = T.StructType(list(schema.fields) + [
        T.StructField("op", T.StringType()), T.StructField("epoch", T.LongType())])
    rows = [("a", i, "user", f"t{i}", None, None, i + 1, False, f"n{i}") for i in range(6)]
    apply_changes(src, spark.createDataFrame([r + ("I", 0) for r in rows], env), 0, cfg)
    src.create_tag("pin")  # pins the synced-from version through expiry
    dest = LakeTable.create(spark, os.path.join(warehouse, "rdst"), schema, n_buckets=4)
    sync_from(dest, src, cfg)
    assert dest.read_public().count() == 6

    src.rename_column("note", "memo")
    rows2 = [("b", 0, "user", "new", None, None, 100, False, "m0")]
    env2 = T.StructType([
        f if f.name != "note" else T.StructField("memo", T.StringType(), True)
        for f in env.fields
    ])
    apply_changes(src, spark.createDataFrame([r + ("I", 1) for r in rows2], env2), 1, cfg)
    # expire the rename snapshot; the tag keeps the synced-from version alive
    src.expire_snapshots(keep_versions=1, orphan_grace_sec=0.0)
    assert "memo" in [f.name for f in src.schema().fields]

    with pytest.raises(RuntimeError, match="no surviving drop evidence"):
        sync_from(dest, src, cfg)
    # the replica's column and its data are intact (not silently dropped)
    assert "note" in [f.name for f in dest.schema().fields]
    assert dest.read_public().filter(F.col("note").isNotNull()).count() == 6
    # operator replays the rename manually → sync converges
    dest.rename_column("note", "memo")
    m = sync_from(dest, src, cfg)
    assert m["status"] == "committed"
    assert (
        dest.read_public().orderBy("conv_id", "turn_idx").collect()
        == src.read_public().orderBy("conv_id", "turn_idx").collect()
    )


def test_sync_still_mirrors_drop_with_surviving_evidence(spark, warehouse):
    """The legitimate mirror case keeps working: a drop_column whose summary
    (or tombstone) survives is still mirrored onto the replica."""
    cfg = EngineConfig(merge_mode="cow")
    schema = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("extra", T.StringType(), True)]
    )
    src = LakeTable.create(spark, os.path.join(warehouse, "dsrc"), schema, n_buckets=4)
    env = T.StructType(list(schema.fields) + [
        T.StructField("op", T.StringType()), T.StructField("epoch", T.LongType())])
    rows = [("a", i, "user", f"t{i}", None, None, i + 1, False, f"e{i}") for i in range(4)]
    apply_changes(src, spark.createDataFrame([r + ("I", 0) for r in rows], env), 0, cfg)
    dest = LakeTable.create(spark, os.path.join(warehouse, "ddst"), schema, n_buckets=4)
    sync_from(dest, src, cfg)
    src.drop_column("extra")
    m = sync_from(dest, src, cfg)
    assert m.get("dropped_columns_mirrored") == ["extra"] or "extra" not in [
        f.name for f in dest.schema().fields
    ]
    assert "extra" not in [f.name for f in dest.schema().fields]


# -------------------------- vacuum walks metadata only (next #4)

def test_vacuum_never_materializes_snapshots(spark, warehouse, monkeypatch):
    """vacuum() must not call snapshot()/history() (per-version deep copies of
    every file descriptor — VERDICT r4 nit #1); the walk is snapshot_meta +
    _files_of over cached, shared entries."""
    t, _ = _mk_table(spark, warehouse, "vac", n_epochs=3)
    t.compact()
    calls = {"snapshot": 0, "history": 0}
    orig_snap, orig_hist = LakeTable.snapshot, LakeTable.history

    def count_snap(self, *a, **k):
        calls["snapshot"] += 1
        return orig_snap(self, *a, **k)

    def count_hist(self, *a, **k):
        calls["history"] += 1
        return orig_hist(self, *a, **k)

    monkeypatch.setattr(LakeTable, "snapshot", count_snap)
    monkeypatch.setattr(LakeTable, "history", count_hist)
    removed = t.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert calls == {"snapshot": 0, "history": 0}
    assert removed  # the pre-compaction deltas actually went away
    assert t.read_public().count() > 0


# -------------------------- stats pruning through renames (next #8)

def test_stats_prune_survives_rename(spark, warehouse, monkeypatch):
    """Range pruning on a RENAMED column must keep skipping pre-rename files:
    their stats are keyed by the birth name and prune_files falls back to it
    through the column mapping — zero-cost rename, pruning included."""
    schema = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("score", T.LongType(), True)]
    )
    cfg = EngineConfig(merge_mode="cow")
    t = LakeTable.create(spark, os.path.join(warehouse, "renprune"), schema, n_buckets=4)
    env = T.StructType(list(schema.fields) + [
        T.StructField("op", T.StringType()), T.StructField("epoch", T.LongType())])
    # keys spread across buckets; score correlates with conv so per-bucket
    # score ranges are tight after cluster_by
    rows = [(f"conv_{i:02d}", 0, "user", "x", None, None, i + 1, False, i * 100)
            for i in range(8)]
    apply_changes(t, spark.createDataFrame([r + ("I", 0) for r in rows], env), 0, cfg)
    t.compact(cluster_by=["score"])  # pre-rename files: stats keyed 'score'
    t.rename_column("score", "quality")

    opened: list[int] = []
    orig = LakeTable._read_parquet

    def spy(self, snap, schema_, paths):
        opened.append(len(paths))
        return orig(self, snap, schema_, paths)

    monkeypatch.setattr(LakeTable, "_read_parquet", spy)
    got = t.read(stats_filters={"quality": (700, None)}).collect()
    assert [r["quality"] for r in got] == [700]
    n_files = len(t._files_of(t.snapshot_meta()))
    assert sum(opened) < n_files, (
        f"no pruning happened: opened {sum(opened)} of {n_files} files"
    )


# ----------------------- process-wide parse cache (VERDICT r4 Missing #3)

def test_second_handle_shares_snapshot_parse(spark, warehouse, monkeypatch):
    """N LakeTable handles in one process parse each immutable metadata JSON
    once: the second handle's cold per-handle cache is served by the
    process-wide stat-validated cache, not a re-parse."""
    from etl_geo_dem_spark.plans import lake_table as lt_mod

    t, _ = _mk_table(spark, warehouse, "sharedparse")
    v = t.current_version()
    t.snapshot_meta(v)  # ensure the shared cache holds this version
    calls: list[str] = []
    orig = LakeTable._parse_snapshot_file

    def counting(self, path):
        calls.append(path)
        return orig(self, path)

    monkeypatch.setattr(LakeTable, "_parse_snapshot_file", counting)
    t2 = LakeTable(spark, t.path)
    meta = t2.snapshot_meta(v)
    assert meta["version"] == v
    assert calls == [], f"second handle re-parsed: {calls}"
    # sidecar sharing too: _files_of on the fresh handle re-parses nothing
    before = len(lt_mod._PARSE_CACHE)
    files = t2._files_of(meta)
    assert len(files) > 0
    assert len(lt_mod._PARSE_CACHE) == before  # all sidecars were cached


def test_rewritten_metadata_file_invalidates_shared_cache(spark, warehouse):
    """The shared cache validates by (mtime_ns, size): a snapshot JSON
    rewritten on disk (planted history / external tooling) must be re-parsed
    by a fresh handle AND by the handle that read it before, never served
    stale."""
    import json as _json

    t, _ = _mk_table(spark, warehouse, "stalecheck")
    v = t.current_version()
    t.snapshot_meta(v)  # populate the shared cache
    p = t._snap_path(v)
    meta = _json.load(open(p))
    meta["planted_marker"] = "rewritten"
    os.remove(p)
    with open(p, "w") as f:
        _json.dump(meta, f)
    t2 = LakeTable(spark, t.path)
    assert t2.snapshot_meta(v).get("planted_marker") == "rewritten"
    assert t.snapshot_meta(v).get("planted_marker") == "rewritten"


def test_snapshot_expired_by_another_handle_raises(spark, warehouse):
    """A snapshot one handle expired is gone for every handle in the
    process: the handle that read it earlier raises the documented
    "expired" error too, instead of serving its old parse."""
    t, _ = _mk_table(spark, warehouse, "expireshared")
    a = LakeTable(spark, t.path)
    assert a.snapshot_meta(1)["version"] == 1
    b = LakeTable(spark, t.path)
    b.expire_snapshots(keep_versions=1)
    with pytest.raises(FileNotFoundError, match="expired"):
        b.snapshot_meta(1)
    with pytest.raises(FileNotFoundError, match="expired"):
        a.snapshot_meta(1)


# ------------------------------- bounded manifest reads (VERDICT r4 nit #3)

def test_read_epoch_manifests_limit_and_since(spark, warehouse):
    t, ch = _mk_table(spark, warehouse, "manifestcap", n_epochs=4)
    all_m = t.read_epoch_manifests()
    assert [m["epoch_id"] for m in all_m] == [0, 1, 2, 3]
    assert [m["epoch_id"] for m in t.read_epoch_manifests(limit=2)] == [2, 3]
    assert [m["epoch_id"] for m in t.read_epoch_manifests(since_epoch=2)] == [2, 3]
    assert [m["epoch_id"] for m in t.read_epoch_manifests(since_epoch=1, limit=1)] == [3]
