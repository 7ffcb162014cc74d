"""Round-4 tests: crash-safe snapshot commit + torn-file recovery, the
manifest-list metadata tier (sidecars, carry-by-reference, coalescing),
snapshot expiration, one-parse plumbing, stats/bucket-pruned predicate DML,
NaN-safe float pruning, tag-vs-vacuum race, sync_from drop-mirror recovery,
metadata-derived streaming dedup, and the rate-source-backed Kafka path."""

import datetime
import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable, prune_files
from etl_geo_dem_spark.plans.merge import (
    _extract_key_values,
    apply_changes,
    delete_where,
    sync_from,
)
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes

CFG = EngineConfig(merge_mode="mor")


def _mk_table(spark, warehouse, name="t", n_epochs=2, n=4000, cfg=CFG):
    t = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, n, n_conv=60, turns_per_conv=10, n_epochs=n_epochs, n_partitions=8)
    for e in range(n_epochs):
        apply_changes(t, ch.filter(F.col("epoch") == e), e, cfg)
    return t, ch


# ------------------------------------------------------ crash-safe commits

def test_torn_snapshot_is_quarantined_and_commits_proceed(spark, warehouse):
    """VERDICT r3 'What's wrong #1' scenario (a): a truncated v{N+1}.json with
    _current at N (pre-link-protocol crash / ENOSPC) must not wedge the table:
    the next commit succeeds and history/vacuum/clone survive."""
    t, ch = _mk_table(spark, warehouse)
    cur = t.current_version()
    torn = t._snap_path(cur + 1)
    with open(torn, "w") as f:
        f.write('{"version": %d, "parent"' % (cur + 1))  # torn mid-dump
    # metadata readers survive the torn file
    assert [s["version"] for s in t.history()]
    t.vacuum(keep_versions=100)
    # and the next commit goes through at the freed version slot
    m = apply_changes(
        t, generate_changes(spark, 500, n_conv=20, n_epochs=1, n_partitions=4)
        .withColumn("epoch", F.lit(50).cast("long")), 50, CFG,
    )
    assert m["status"] == "committed"
    assert m["snapshot_version"] == cur + 1
    assert not os.path.exists(torn) or json.load(open(torn))  # quarantined/replaced
    # the quarantined leftover doesn't shadow the committed snapshot
    assert t.snapshot_meta(cur + 1)["version"] == cur + 1
    clone = t.clone(os.path.join(warehouse, "clone_after_torn"))
    assert clone.read_public().count() == t.read_public().count()


def test_crash_between_link_and_pointer_swap_rolls_forward(spark, warehouse):
    """Scenario (b): v{N+1} fully linked but _current still at N (crash before
    the pointer swap). current_version() must roll forward, and the already-
    committed epoch must be skipped by the exactly-once watermark."""
    t, _ = _mk_table(spark, warehouse)
    real = t.current_version()
    last = t.last_epoch()
    t._write_pointer(real - 1)  # simulate the un-swapped pointer
    t2 = LakeTable(spark, t.path)  # fresh handle, cold cache
    assert t2.current_version() == real
    # pointer was repaired on the way
    with open(t2._current_path) as f:
        assert int(f.read()) == real
    # exactly-once: re-applying the committed epoch is a metadata no-op
    m = apply_changes(
        t2, generate_changes(spark, 100, n_conv=5, n_epochs=1, n_partitions=2)
        .withColumn("epoch", F.lit(last).cast("long")), last, CFG,
    )
    assert m["status"] == "skipped"


def test_commit_conflict_still_raised_for_complete_competitor(spark, warehouse):
    from etl_geo_dem_spark.plans.lake_table import CommitConflict

    t, _ = _mk_table(spark, warehouse)
    meta = t.snapshot_meta()
    snap = dict(meta)
    snap["version"] = meta["version"] + 1
    snap["parent"] = meta["version"]
    t._commit_snapshot(dict(snap))
    with pytest.raises(CommitConflict):
        t._commit_snapshot(dict(snap))


# -------------------------------------------------- manifest-list metadata tier

def test_snapshot_json_size_independent_of_file_count(spark, warehouse):
    """Directive 4 'done' criterion: MOR commits carry parent refs by
    reference — snapshot JSON stays O(refs), old sidecars are never
    re-serialized, and total commit metadata is flat as files accumulate."""
    t = LakeTable.create(spark, os.path.join(warehouse, "flat"), STATE_SCHEMA, n_buckets=8)
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)  # no auto-fold
    sizes, sidecar_mtimes = [], {}
    for e in range(6):
        ch = generate_changes(spark, 1500, n_conv=40, n_epochs=1, n_partitions=4)
        apply_changes(t, ch.withColumn("epoch", F.lit(e).cast("long")), e, cfg)
        sizes.append(os.path.getsize(t._snap_path(t.current_version())))
        for p in glob.glob(os.path.join(t._filelists_dir, "fl-*.json")):
            prev = sidecar_mtimes.get(p)
            cur = os.path.getmtime(p)
            if prev is not None:
                assert cur == prev, f"sidecar {p} was rewritten by a later commit"
            sidecar_mtimes[p] = cur
    n_files = len(t.snapshot()["files"])
    assert n_files >= 6 * 8 * 0.5  # files really accumulated
    # snapshot growth is per-ref (one small ref per epoch), nowhere near
    # per-file-descriptor scale (~300 bytes each with stats)
    per_epoch_growth = (sizes[-1] - sizes[0]) / 5
    assert per_epoch_growth < 500, (sizes, n_files)
    # exactly one new sidecar per epoch
    assert len(glob.glob(os.path.join(t._filelists_dir, "fl-*.json"))) == 6


def test_manifest_coalescing_bounds_ref_list(spark, warehouse, monkeypatch):
    monkeypatch.setattr(LakeTable, "MAX_MANIFESTS", 3)
    t = LakeTable.create(spark, os.path.join(warehouse, "coal"), STATE_SCHEMA, n_buckets=4)
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    counts = None
    for e in range(6):
        ch = generate_changes(spark, 800, n_conv=30, n_epochs=1, n_partitions=4)
        apply_changes(t, ch.withColumn("epoch", F.lit(e).cast("long")), e, cfg)
        refs = t.snapshot_meta().get("manifests", [])
        assert len(refs) <= 4  # 3 carried + the new one, folded past the cap
        counts = t.read_public().count()
    assert counts and counts > 0
    # LWW state identical to an uncompacted twin
    t2 = LakeTable.create(spark, os.path.join(warehouse, "coal2"), STATE_SCHEMA, n_buckets=4)
    for e in range(6):
        ch = generate_changes(spark, 800, n_conv=30, n_epochs=1, n_partitions=4)
        apply_changes(t2, ch.withColumn("epoch", F.lit(e).cast("long")), e,
                      EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))
    a = t.read_public().orderBy("conv_id", "turn_idx").toPandas()
    b = t2.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert a["text"].tolist() == b["text"].tolist()


def test_one_snapshot_parse_per_commit_attempt(spark, warehouse, monkeypatch):
    """Directive 3 'done' criterion: one apply_changes parses each snapshot
    JSON at most once (accessors ride the version-keyed cache)."""
    t, _ = _mk_table(spark, warehouse, name="oneparse")
    t2 = LakeTable(spark, t.path)  # cold per-handle cache
    # also empty the process-wide stat-validated parse cache (round 5), so
    # this measures a genuinely cold process and the parse must happen
    from etl_geo_dem_spark.plans import lake_table as lt_mod

    lt_mod._PARSE_CACHE.clear()
    calls: dict[str, int] = {}
    orig = LakeTable._parse_snapshot_file

    def counting(self, path):
        calls[path] = calls.get(path, 0) + 1
        return orig(self, path)

    monkeypatch.setattr(LakeTable, "_parse_snapshot_file", counting)
    ch = generate_changes(spark, 800, n_conv=20, n_epochs=1, n_partitions=4)
    m = apply_changes(t2, ch.withColumn("epoch", F.lit(7).cast("long")), 7, CFG)
    assert m["status"] == "committed"
    assert calls, "expected at least the current snapshot to be parsed"
    for path, n in calls.items():
        assert n <= 1, f"{path} parsed {n} times in one apply"


def test_legacy_inline_files_snapshot_upgrades_in_place(spark, warehouse):
    """A table written by the pre-manifest-tier engine (snapshot JSON holds
    the file list INLINE, and none of the later metadata fields) must read
    correctly after the upgrade and migrate to sidecars on its first new
    commit — never silently read as empty."""
    t, _ = _mk_table(spark, warehouse, name="legacy")
    rows = t.read_public().count()
    # rewrite the current snapshot in the legacy on-disk shape
    snap = t.snapshot()  # meta + materialized files
    later_fields = {
        "manifests", "key_col", "key_cols", "order_cols",
        "stream_watermarks", "dropped_columns", "column_mapping",
    }
    legacy = {k: v for k, v in snap.items() if k not in later_fields}
    v = snap["version"]
    os.remove(t._snap_path(v))
    with open(t._snap_path(v), "w") as f:
        json.dump(legacy, f)
    t2 = LakeTable(spark, t.path)  # cold handle, as after an engine upgrade
    assert t2.read_public().count() == rows
    assert t2.delta_counts()  # metadata accessors see the legacy files too
    m = apply_changes(
        t2, generate_changes(spark, 400, n_conv=10, n_epochs=1, n_partitions=2)
        .withColumn("epoch", F.lit(60).cast("long")), 60, CFG,
    )
    assert m["status"] == "committed"
    new_meta = t2.snapshot_meta()
    assert all("inline" not in r for r in new_meta["manifests"])  # migrated
    assert new_meta["key_cols"] == ["conv_id", "turn_idx"]
    assert new_meta["order_cols"] == ["ts", "lsn"]
    assert t2.read_public().count() >= rows
    # and the migrated table clones
    c = t2.clone(os.path.join(warehouse, "legacy_clone"))
    assert c.read_public().count() == t2.read_public().count()


# ------------------------------------------------------------ expire_snapshots

def test_expire_snapshots_bounds_history_and_truncates_cdf(spark, warehouse):
    t = LakeTable.create(spark, os.path.join(warehouse, "exp"), STATE_SCHEMA, n_buckets=4)
    cfg = EngineConfig(merge_mode="mor")
    for e in range(8):
        ch = generate_changes(spark, 600, n_conv=20, n_epochs=1, n_partitions=4)
        apply_changes(t, ch.withColumn("epoch", F.lit(e).cast("long")), e, cfg)
    rows_before = t.read_public().count()
    n_manifests_before = len(glob.glob(os.path.join(t.manifest_dir, "epoch_*.json")))
    res = t.expire_snapshots(keep_versions=2, orphan_grace_sec=0.0)
    assert res["snapshots_removed"], "expected expired versions"
    hist = t.history()
    assert len(hist) <= 2
    assert t.read_public().count() == rows_before  # live state untouched
    # expired epoch-lineage manifests went with their snapshots
    assert len(glob.glob(os.path.join(t.manifest_dir, "epoch_*.json"))) < n_manifests_before
    # CDF past the horizon raises the documented truncated-feed error
    with pytest.raises(FileNotFoundError, match="expired"):
        t.table_changes(1)
    with pytest.raises(FileNotFoundError):
        t.rollback(1)
    # re-run is a clean no-op
    res2 = t.expire_snapshots(keep_versions=2, orphan_grace_sec=0.0)
    assert not res2["snapshots_removed"]
    # and the 119-green invariant: normal ops continue after expiry
    apply_changes(
        t, generate_changes(spark, 300, n_conv=10, n_epochs=1, n_partitions=2)
        .withColumn("epoch", F.lit(99).cast("long")), 99, cfg,
    )
    assert t.read_public().count() >= rows_before


def test_expire_snapshots_keeps_tagged_versions(spark, warehouse):
    t, _ = _mk_table(spark, warehouse, name="tagged", n_epochs=4)
    pinned = t.current_version() - 2
    t.create_tag("audit", pinned)
    t.expire_snapshots(keep_versions=1, orphan_grace_sec=0.0)
    assert t.snapshot_meta(pinned)["version"] == pinned  # survived via the tag
    assert t.read(version="audit").count() > 0
    # untagged ones in the same range are gone
    with pytest.raises(FileNotFoundError):
        t.snapshot_meta(1)


def test_sync_from_past_expired_horizon_raises_rebootstrap_error(spark, warehouse):
    src, _ = _mk_table(spark, warehouse, name="src_exp", n_epochs=3)
    dest = LakeTable.create(spark, os.path.join(warehouse, "dest_exp"), STATE_SCHEMA, n_buckets=8)
    src.expire_snapshots(keep_versions=1, orphan_grace_sec=0.0)
    with pytest.raises(RuntimeError, match="re-bootstrap"):
        sync_from(dest, src, CFG)


# -------------------------------------------------------- pruned predicate DML

def test_delete_where_key_predicate_prunes_to_one_bucket(spark, warehouse, monkeypatch):
    """Directive 5 'done' criterion: a single-key delete_where reads only that
    key's bucket (stats filter on the key attached), and the result is
    identical to the full-scan path."""
    cfg = EngineConfig(merge_mode="cow")
    t, _ = _mk_table(spark, warehouse, name="dmlp", cfg=cfg)
    key_val = t.read_public().select("conv_id").first()[0]
    expected_bucket = t.bucket_of(key_val)
    seen = {}
    orig_read = LakeTable.read

    def spy_read(self, *a, **kw):
        seen.setdefault("calls", []).append(kw)
        return orig_read(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy_read)
    m = delete_where(t, F.col("conv_id") == key_val, cfg)
    assert m["status"] == "committed"
    monkeypatch.setattr(LakeTable, "read", orig_read)
    dml_reads = [
        kw for kw in seen["calls"]
        if kw.get("buckets") is not None and kw.get("stats_filters")
    ]
    assert dml_reads, f"no pruned read observed: {seen['calls']}"
    assert dml_reads[0]["buckets"] == [expected_bucket]
    assert dml_reads[0]["stats_filters"] == {"conv_id": (key_val, key_val)}
    assert t.read_public().filter(F.col("conv_id") == key_val).count() == 0

    # twin table via the forced full-scan path → identical final state
    t2, _ = _mk_table(spark, warehouse, name="dmlp2", cfg=cfg)
    import etl_geo_dem_spark.plans.merge as mergemod

    monkeypatch.setattr(mergemod, "_extract_key_values", lambda *a, **k: None)
    delete_where(t2, F.col("conv_id") == key_val, cfg)
    a = t.read_public().orderBy("conv_id", "turn_idx").toPandas()
    b = t2.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert a["conv_id"].tolist() == b["conv_id"].tolist()
    assert a["text"].tolist() == b["text"].tolist()


def test_extract_key_values_shapes(spark, warehouse):
    t, _ = _mk_table(spark, warehouse, name="extr", n=500)
    assert _extract_key_values(t, F.col("conv_id") == "a") == ["a"]
    assert _extract_key_values(t, F.col("conv_id").isin("a", "b")) == ["a", "b"]
    assert _extract_key_values(
        t, (F.col("conv_id") == "a") & (F.col("turn_idx") < 5)) == ["a"]
    assert _extract_key_values(
        t, (F.col("conv_id") == "a") | (F.col("conv_id") == "b")) == ["a", "b"]
    assert _extract_key_values(t, "conv_id = 'a' OR conv_id IN ('b', 'c')") == ["a", "b", "c"]
    assert _extract_key_values(t, F.col("turn_idx") == 3) is None  # non-key
    assert _extract_key_values(
        t, (F.col("conv_id") == "a") | (F.col("turn_idx") == 3)) is None  # unbound arm
    assert _extract_key_values(t, F.length("conv_id") == 3) is None


# ------------------------------------------------------------ NaN float stats

def test_prune_files_never_drops_nan_bearing_float_files():
    files = [
        {"path": "a", "bucket": 0,
         "stats": {"score": {"min": 0.0, "max": 5.0, "float": True}}},
        {"path": "b", "bucket": 0,
         "stats": {"score": {"min": 0, "max": 5}}},  # int column
    ]
    kept = prune_files(files, {"score": (10.0, None)})
    # float file kept (NaN rows may satisfy >= 10); int file safely pruned
    assert [f["path"] for f in kept] == ["a"]
    # the max-side prune (min > hi) stays active for floats: NaN sorts high,
    # NaN rows can never satisfy col <= hi
    kept2 = prune_files(
        [{"path": "c", "bucket": 0,
          "stats": {"score": {"min": 20.0, "max": 30.0, "float": True}}}],
        {"score": (None, 10.0)},
    )
    assert kept2 == []


def test_float_stats_marked_and_nan_rows_survive_pruned_read(spark, warehouse):
    cfg = EngineConfig(merge_mode="cow")
    t = LakeTable.create(spark, os.path.join(warehouse, "nan"), STATE_SCHEMA, n_buckets=4)
    ts = datetime.datetime(2026, 1, 1)
    # NaN rows concentrated in ONE conv-id: only its bucket's file carries
    # NaN, the rest are NaN-free (Spark's parquet writer omits float min/max
    # entirely when a NaN was seen — absent stats means never pruned, which
    # is safe; the 'float' marker protects files written WITH stats)
    rows = [
        ("I", "nan_conv" if i % 5 == 0 else f"c{i}", i, "user", f"t{i}", None,
         ts, i, 0, float("nan") if i % 5 == 0 else float(i))
        for i in range(40)
    ]
    schema = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("score", T.DoubleType(), True)]
    )
    apply_changes(t, spark.createDataFrame(rows, schema), 0, cfg)
    t.compact(cluster_by=["score"])
    snap = t.snapshot()
    marked = [f["stats"]["score"] for f in snap["files"] if "score" in f.get("stats", {})]
    # every score stat that WAS recorded carries the float marker, so
    # prune_files skips the unsafe max-vs-lo side for it
    assert marked and all(s.get("float") for s in marked)
    # NaN-bearing files carry no score stats at all (conservative: never pruned)
    nan_files = t.read(resolve=False).filter(F.isnan("score")).inputFiles()
    by_path = {f["path"]: f.get("stats", {}) for f in snap["files"]}
    assert nan_files and all(
        "score" not in by_path.get(p.replace("file:", ""), {}) for p in nan_files
    )
    # every NaN row must survive a lower-bounded pruned read (Spark: NaN > 25)
    got = t.read(stats_filters={"score": (25.0, None)}).count()
    exp = t.read().filter(F.col("score") >= 25.0).count()
    assert got == exp
    assert got >= 8  # the NaN rows


# ------------------------------------------------------------- tag/vacuum race

def test_create_tag_detects_vacuumed_snapshot(spark, warehouse):
    cfg = EngineConfig(merge_mode="cow")
    t, _ = _mk_table(spark, warehouse, name="tagrace", n_epochs=3, cfg=cfg)
    old = t.current_version() - 2
    t.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.create_tag("stale", old)
    assert "stale" not in t.tags()  # the racing tag was removed, not left dangling


# ------------------------------------------- sync_from drop-mirror on recovery

def test_sync_from_mirrors_drop_on_up_to_date_path(spark, warehouse, monkeypatch):
    cfg = EngineConfig(merge_mode="cow")
    src = LakeTable.create(spark, os.path.join(warehouse, "ms"), STATE_SCHEMA, n_buckets=4)
    ts = datetime.datetime(2026, 1, 1)
    schema = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("extra", T.StringType(), True)]
    )
    rows = [("I", "c1", i, "user", f"t{i}", None, ts, i, 0, "x") for i in range(10)]
    apply_changes(src, spark.createDataFrame(rows, schema), 0, cfg)
    dest = LakeTable.create(spark, os.path.join(warehouse, "md"), STATE_SCHEMA, n_buckets=4)
    sync_from(dest, src, cfg)
    assert "extra" in [f.name for f in dest.schema().fields]
    src.drop_column("extra")
    # simulate a pre-round-4 sync that advanced the watermark WITHOUT
    # mirroring the DDL (crash after the commit, or an older engine): disable
    # both the exact DDL replay and the fallback sweep for one sync
    import etl_geo_dem_spark.plans.merge as mergemod

    monkeypatch.setattr(mergemod, "_replay_schema_ops", lambda *a, **k: [])
    monkeypatch.setattr(mergemod, "_mirror_schema_drops", lambda *a, **k: [])
    sync_from(dest, src, cfg)  # advances watermark, "crashes" before mirroring
    monkeypatch.undo()
    assert "extra" in [f.name for f in dest.schema().fields]  # ghost column present
    m = sync_from(dest, src, cfg)  # recovery: no new source commits needed
    assert m["status"] == "up_to_date"
    assert m.get("dropped_columns_mirrored") == ["extra"]
    assert "extra" not in [f.name for f in dest.schema().fields]


# ------------------------------------------- column rename via name mapping

def _table_with_score(spark, warehouse, name, cfg):
    t = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=4)
    ts = datetime.datetime(2026, 1, 1)
    sch = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("score", T.DoubleType(), True)]
    )
    rows = [("I", f"c{i}", i, "user", f"t{i}", None, ts, i, 0, float(i)) for i in range(20)]
    apply_changes(t, spark.createDataFrame(rows, sch), 0, cfg)
    return t, sch, ts


def test_rename_column_metadata_only_data_survives(spark, warehouse):
    cfg = EngineConfig(merge_mode="mor")
    t, sch, ts = _table_with_score(spark, warehouse, "ren", cfg)
    files_before = [f["path"] for f in t.snapshot()["files"]]
    t.rename_column("score", "quality")
    # metadata-only: same files, new logical name, values intact
    assert [f["path"] for f in t.snapshot()["files"]] == files_before
    got = {r["turn_idx"]: r["quality"] for r in t.read_public().collect()}
    assert got[7] == 7.0 and len(got) == 20
    assert t.snapshot_meta()["column_mapping"] == {"quality": "score"}
    # new data arrives under the NEW name; files mix pre/post-rename physicals
    sch2 = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("quality", T.DoubleType(), True)]
    )
    later = ts + datetime.timedelta(hours=1)
    rows2 = [("U", f"c{i}", i, "user", f"n{i}", None, later, 100 + i, 1, 50.0 + i)
             for i in range(5)]
    apply_changes(t, spark.createDataFrame(rows2, sch2), 1, cfg)
    got2 = {r["turn_idx"]: r["quality"] for r in t.read_public().collect()}
    assert got2[0] == 50.0 and got2[10] == 10.0
    # key-path pruning unaffected (keys can't be renamed)
    assert t.point_lookup("c3").count() == 1
    # refusals
    with pytest.raises(ValueError, match="key/order"):
        t.rename_column("conv_id", "cid")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("quality", "text")
    with pytest.raises(KeyError):
        t.rename_column("nope", "x")
    # rollback across the rename restores the old name AND mapping
    t.rollback(2)  # version right before the rename... v1=create, v2=merge
    assert "score" in [f.name for f in t.schema().fields]
    assert t.snapshot_meta().get("column_mapping") == {}


def test_readd_after_drop_gets_fresh_physical_no_ghosts(spark, warehouse):
    cfg = EngineConfig(merge_mode="mor")
    t, sch, ts = _table_with_score(spark, warehouse, "ghost", cfg)
    t.rename_column("score", "quality")
    t.drop_column("quality")
    # tombstone records the BIRTH (physical) name
    assert t.snapshot_meta()["dropped_columns"] == ["score"]
    sch2 = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("quality", T.DoubleType(), True)]
    )
    later = ts + datetime.timedelta(hours=2)
    rows3 = [("U", f"c{i}", i, "user", f"z{i}", None, later, 200 + i, 2, 999.0)
             for i in (0, 1)]
    apply_changes(t, spark.createDataFrame(rows3, sch2), 2, cfg)
    vals = {r["turn_idx"]: r["quality"] for r in t.read_public().collect()}
    assert vals[0] == 999.0
    assert vals[5] is None  # pre-drop value did NOT resurrect
    # full rewrite purges bytes, clears tombstones, re-bases mapping
    t.compact()
    meta = t.snapshot_meta()
    assert meta.get("dropped_columns") == [] and meta.get("column_mapping") == {}
    vals2 = {r["turn_idx"]: r["quality"] for r in t.read_public().collect()}
    assert vals2[0] == 999.0 and vals2[5] is None


def test_sync_from_replays_rename_without_data_loss(spark, warehouse):
    cfg = EngineConfig(merge_mode="mor")
    src, sch, ts = _table_with_score(spark, warehouse, "rsrc", cfg)
    dest = LakeTable.create(spark, os.path.join(warehouse, "rdst"), STATE_SCHEMA, n_buckets=4)
    sync_from(dest, src, cfg)
    assert "score" in [f.name for f in dest.schema().fields]
    src.rename_column("score", "quality")
    m = sync_from(dest, src, cfg)  # rename emits ZERO CDF rows
    assert ["rename", "score", "quality"] in m.get("schema_ops_replayed", [])
    cols = [f.name for f in dest.schema().fields]
    assert "quality" in cols and "score" not in cols
    # the replica's column DATA survived (drop+re-add would have nulled it)
    dq = {r["turn_idx"]: r["quality"] for r in dest.read_public().collect()}
    assert dq[7] == 7.0


def test_mapped_read_keeps_pushdown_and_pruning(spark, warehouse):
    """The physical→logical alias projection must fold into the scan: filters
    on the RENAMED logical column still reach the parquet reader as data
    filters on the physical column, and unused columns stay pruned."""
    cfg = EngineConfig(merge_mode="cow")
    t, sch, ts = _table_with_score(spark, warehouse, "pushdown", cfg)
    t.rename_column("score", "quality")
    df = t.read_public().filter(F.col("quality") > 25.0).select("conv_id", "quality")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines, plan
    scan = scan_lines[0]
    # filter pushed to the scan under the PHYSICAL name
    assert "score" in scan and "25" in plan
    # column pruning survives the mapping: payload cols not in the projection
    # never reach the scan
    assert "text#" not in scan and "lsn#" not in scan, scan


def test_expire_snapshots_older_than_keeps_young_history(spark, warehouse):
    t, _ = _mk_table(spark, warehouse, name="texp", n_epochs=4)
    hist_before = len(t.history())
    # cutoff in the past: nothing is old enough to expire
    res = t.expire_snapshots(
        keep_versions=1, older_than_ms=int(time.time() * 1000) - 3600_000,
        orphan_grace_sec=0.0,
    )
    assert res["snapshots_removed"] == []
    assert len(t.history()) == hist_before
    # cutoff in the future: behaves like pure keep_versions retention
    res2 = t.expire_snapshots(
        keep_versions=2, older_than_ms=int(time.time() * 1000) + 3600_000,
        orphan_grace_sec=0.0,
    )
    assert res2["snapshots_removed"]
    assert len(t.history()) <= 2


# --------------------------------------------- streaming with non-default keys

def test_stream_ingest_non_default_keys_derives_dedup_identity(spark, warehouse, tmp_path):
    """Directive 6 'done' criterion: a table created with non-default
    key/order columns streams end-to-end — the stateful dedup identity and
    event-time column come from table metadata, not hardcoded names."""
    from etl_geo_dem_spark.streaming.ingest import start_cdc_ingest

    state = T.StructType([
        T.StructField("sess", T.StringType(), False),
        T.StructField("step", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("evt_ts", T.TimestampType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("_deleted", T.BooleanType(), False),
    ])
    change = T.StructType([
        T.StructField("op", T.StringType(), False),
        T.StructField("sess", T.StringType(), False),
        T.StructField("step", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),
        T.StructField("evt_ts", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
    ])
    t = LakeTable.create(
        spark, os.path.join(warehouse, "nk"), state, n_buckets=4,
        key_col="sess", key_cols=["sess", "step"], order_cols=["evt_ts", "seq"],
    )
    ts = datetime.datetime(2026, 1, 1)
    rows = [("U", f"s{i % 3}", i, f"p{i}", ts, i, 0) for i in range(30)]
    rows += rows[:10]  # exact re-deliveries for the dedup pre-filter to drop
    src = str(tmp_path / "nk_src")
    spark.createDataFrame(rows, change).coalesce(1).write.parquet(src)
    q = start_cdc_ingest(
        spark, t, src, change, str(tmp_path / "nk_ckpt"),
        cfg=EngineConfig(merge_mode="cow"),
        dedup_watermark="10 minutes",
    )
    q.awaitTermination(120)
    out = t.read_public().orderBy("sess", "step").toPandas()
    assert len(out) == 30
    assert out["payload"].tolist() == [f"p{i}" for i in sorted(range(30), key=lambda i: (f"s{i%3}", i))]


def test_run_ingest_kafka_mode_wiring(spark, warehouse, tmp_path, monkeypatch, capsys):
    """The cluster entrypoint's --kafka-topic mode wires the glue correctly:
    argument validation is loud, and the ingest call receives the topic /
    checkpoint / config (the broker-dependent part is the glue's own
    end-to-end rate-stream test above)."""
    import run_ingest
    import etl_geo_dem_spark.sources.kafka as kafkamod

    tpath = os.path.join(warehouse, "ki")
    with pytest.raises(SystemExit):
        run_ingest.main(["--table", tpath, "--kafka-topic", "t"])  # no servers/ckpt

    seen = {}

    class FakeQuery:
        def awaitTermination(self, *a):
            return True

    def fake_start(spark_, table, topic, checkpoint_dir, **kw):
        seen.update(topic=topic, ckpt=checkpoint_dir, cfg=kw.get("cfg"))
        return FakeQuery()

    monkeypatch.setattr(kafkamod, "start_kafka_cdc_ingest", fake_start)
    monkeypatch.setattr(run_ingest, "get_spark", lambda **kw: spark)
    rc = run_ingest.main([
        "--table", tpath, "--kafka-topic", "cdc.t", "--kafka-servers", "b:9092",
        "--checkpoint", str(tmp_path / "ck"), "--n-buckets", "4",
    ])
    assert rc == 0
    assert seen["topic"] == "cdc.t" and seen["cfg"].merge_mode == "mor"
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(out)["mode"] == "kafka"


def test_table_metrics_metadata_only(spark, warehouse):
    t, _ = _mk_table(spark, warehouse, name="metrics", n_epochs=3)
    t.create_tag("pin")
    m = t.table_metrics()
    assert m["n_files"] > 0 and m["total_rows"] > 0
    assert m["n_delta_files"] > 0  # MOR epochs appended deltas
    assert m["last_epoch"] == 2 and m["n_tags"] == 1
    assert m["n_manifest_refs"] == len(t.snapshot_meta()["manifests"])
    assert m["bucket_bytes_max"] >= m["bucket_bytes_median"] > 0
    # consistent with the files_df metadata table
    import pyspark.sql.functions as Fn

    agg = t.files_df().agg(
        Fn.count(Fn.lit(1)), Fn.sum("rows"), Fn.sum("bytes")
    ).first()
    assert (m["n_files"], m["total_rows"], m["total_bytes"]) == tuple(agg)


# ----------------------------------------------------- kafka via rate source

def _rate_kafka_shaped(spark, rows_per_batch=20):
    """Built-in rate source mapped to the public Kafka shape (no broker in
    the container) — a REAL streaming micro-batch plan end to end."""
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 2)
        .load()
    )
    env = F.to_json(
        F.struct(
            F.lit("u").alias("op"),
            (F.col("value") + 1_700_000_000_000).alias("ts_ms"),
            F.struct(
                F.concat(F.lit("conv-"), (F.col("value") % 5).cast("string")).alias("conv_id"),
                F.col("value").cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.concat(F.lit("text-"), F.col("value").cast("string")).alias("text"),
                F.lit(None).cast("string").alias("tool"),
            ).alias("after"),
            F.struct(
                F.col("value").alias("lsn"),
                F.lit("db").alias("db"),
                F.lit("transcripts").alias("table"),
            ).alias("source"),
        )
    )
    return rate.select(
        F.lit(None).cast("binary").alias("key"),
        env.cast("binary").alias("value"),
        F.lit("cdc.transcripts").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("value").alias("offset"),
        F.col("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def test_from_kafka_debezium_over_live_rate_stream(spark):
    from etl_geo_dem_spark.sources.kafka import from_kafka_debezium

    parsed = from_kafka_debezium(_rate_kafka_shaped(spark), keep_lineage=True)
    captured = []

    def sink(batch_df, batch_id):
        captured.extend(batch_df.collect())

    q = parsed.writeStream.foreachBatch(sink).start()
    try:
        deadline = time.time() + 90
        while not captured and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
    assert captured, "no micro-batch arrived from the rate source"
    r = captured[0]
    assert r["op"] == "U" and r["conv_id"].startswith("conv-")
    assert r["_src_topic"] == "cdc.transcripts" and r["lsn"] == r["_src_offset"]
    assert {"op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "epoch"} <= set(
        captured[0].asDict().keys()
    )


def test_start_kafka_cdc_ingest_end_to_end(spark, warehouse, tmp_path):
    """The full Kafka glue path: kafka-shaped stream → Debezium decode →
    exactly-once MERGE per micro-batch, landing LWW-correct rows in the lake
    table and advancing the kafka stream's own watermark."""
    from etl_geo_dem_spark.sources.kafka import start_kafka_cdc_ingest

    t = LakeTable.create(
        spark, os.path.join(warehouse, "kafka_t"), STATE_SCHEMA, n_buckets=4
    )
    q = start_kafka_cdc_ingest(
        spark, t, topic="cdc.transcripts",
        checkpoint_dir=str(tmp_path / "kafka_ckpt"),
        cfg=EngineConfig(merge_mode="mor"),
        kafka_df=_rate_kafka_shaped(spark),
        stream_id="kafka-test",
    )
    try:
        deadline = time.time() + 90
        rows = 0
        while rows == 0 and time.time() < deadline:
            time.sleep(1.0)
            try:
                rows = t.read_public().count()
            except Exception:
                rows = 0
    finally:
        q.stop()
    assert rows > 0
    assert t.last_stream_epoch("kafka-test") >= 0  # watermark advanced
    got = t.read_public().filter(F.col("conv_id") == "conv-0").orderBy("turn_idx").first()
    assert got is not None and got["text"].startswith("text-")
    # missing both broker and injected frame is a loud error
    with pytest.raises(ValueError, match="bootstrap_servers"):
        start_kafka_cdc_ingest(spark, t, topic="x", checkpoint_dir=str(tmp_path / "c2"))
