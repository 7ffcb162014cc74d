"""Round-5 self-review regressions: the defects a high-effort review of the
round-5 diff surfaced, each pinned before the fix shipped — clone collision
abort, driver-hash cast fidelity, rename-then-drop evidence translation,
staging-orphan sweep coverage, decoder error contract, manifest-read
robustness."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.functions.hashing import spark_xxhash64
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes, sync_from
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes

CFG = EngineConfig(merge_mode="mor")


def _mk(spark, warehouse, name="t", n_epochs=2):
    t = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=4)
    ch = generate_changes(spark, 800, n_conv=20, turns_per_conv=6, n_epochs=n_epochs, n_partitions=4)
    for e in range(n_epochs):
        apply_changes(t, ch.filter(F.col("epoch") == e), e, CFG)
    return t


def test_clone_aborts_on_leftover_snapshot(spark, warehouse):
    """A clone target polluted by a previous failed clone must ABORT loudly:
    silently losing the put_if_absent race would graft two sources' metadata
    into one replica chain."""
    src = _mk(spark, warehouse, "clone_src")
    dest_path = os.path.join(warehouse, "clone_dest")
    # leftover from a "previous failed clone": a v1 snapshot but no _current
    snapdir = os.path.join(dest_path, "_snapshots")
    os.makedirs(snapdir)
    with open(os.path.join(snapdir, "v00000001.json"), "w") as f:
        json.dump({"version": 1, "planted": "stale"}, f)
    with pytest.raises(FileExistsError, match="previous failed clone"):
        src.clone(dest_path)


def test_driver_hash_refuses_divergent_string_coercions(spark, warehouse):
    """str(1e7) != Spark's cast-to-string ('10000000.0' vs '1.0E7'): float
    and bool literals against a string key column must NOT be hashed
    driver-side — and buckets_of must then apply Spark's own cast, landing
    in the same bucket the write path used."""
    for bad in (1e7, True, 2.5):
        with pytest.raises(TypeError):
            spark_xxhash64(bad, T.StringType())
    # int and str still fast-path (decimal repr is identical both sides)
    assert spark_xxhash64(5, T.StringType()) == spark_xxhash64("5", T.StringType())

    t = _mk(spark, warehouse, "hashcast")
    via_spark = spark.sql(
        "SELECT CAST(pmod(xxhash64(CAST(1e7 AS DOUBLE)), 4) AS INT)"
    ).first()[0]
    # a double literal against the string key column routes to the Spark twin,
    # which casts double->string the way Spark would have at write time
    expected = spark.sql(
        "SELECT CAST(pmod(xxhash64(CAST(CAST(1e7 AS DOUBLE) AS STRING)), 4) AS INT)"
    ).first()[0]
    assert t.buckets_of([1e7]) == [expected]
    del via_spark


def test_sync_mirrors_drop_of_renamed_column_after_expiry(spark, warehouse):
    """Source renames score->quality, replica replays it, source then drops
    quality and the drop snapshot expires. The tombstone records the PHYSICAL
    name ('score'); the replica's missing column is the LOGICAL 'quality' —
    the evidence check must translate through the replica's column_mapping
    and mirror the drop instead of raising."""
    import datetime

    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA

    env = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("score", T.LongType())]
    )
    change_schema = T.StructType(
        list(CHANGE_SCHEMA.fields) + [T.StructField("score", T.LongType())]
    )
    src = LakeTable.create(spark, os.path.join(warehouse, "ren_src"), env, n_buckets=4)
    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        ("I", f"conv_{i:02d}", 0, "user", "x", None,
         t0 + datetime.timedelta(seconds=i), i + 1, 0, i * 10)
        for i in range(6)
    ]
    apply_changes(src, spark.createDataFrame(rows, change_schema), 0, CFG)
    replica = src.clone(os.path.join(warehouse, "ren_dst"))

    src.rename_column("score", "quality")
    sync_from(replica, src)  # replica learns the rename (replayed as DDL)
    assert "quality" in [f.name for f in replica.schema().fields]
    # pin the replica's resume point so the horizon check passes, then let
    # the MID-RANGE drop_column snapshot expire (the review scenario)
    src.create_tag("pin", version=src.current_version())

    src.drop_column("quality")
    rows2 = [
        ("U", f"conv_{i:02d}", 0, "user", "y", None,
         t0 + datetime.timedelta(seconds=100 + i), 100 + i, 1)
        for i in range(3)
    ]
    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA as _CS

    apply_changes(src, spark.createDataFrame(rows2, _CS), 1, CFG)
    src.expire_snapshots(keep_versions=1, keep_tagged=True)
    # the drop_column summary is expired; only the current snapshot's
    # PHYSICAL tombstone ('score') survives as evidence
    out = sync_from(replica, src)
    assert "quality" in out.get("dropped_columns_mirrored", [])
    assert "quality" not in [f.name for f in replica.schema().fields]


def test_vacuum_sweeps_staging_in_root_and_manifest_dirs(spark, warehouse):
    """The objectstore backend stages beside _current (table root) and in
    manifests/ too — vacuum's crash-hygiene sweep must reap those."""
    t = _mk(spark, warehouse, "stagesweep")
    planted = []
    for d in (t.path, t.manifest_dir):
        sd = os.path.join(d, ".stage")
        os.makedirs(sd, exist_ok=True)
        p = os.path.join(sd, "put-deadbeef")
        with open(p, "w") as f:
            f.write("x")
        old = time.time() - 7200
        os.utime(p, (old, old))
        planted.append(p)
    removed = t.vacuum(orphan_grace_sec=3600)
    for p in planted:
        assert not os.path.exists(p), p
        assert p in removed


def test_decoders_raise_value_error_on_truncation():
    """The documented contract is ValueError on ANY malformed byte — a
    truncated buffer must not leak struct.error out of the kernel."""
    from etl_geo_dem_spark.operators.multimodal import decode_png, decode_wav

    png_sig = b"\x89PNG\r\n\x1a\n"
    with pytest.raises(ValueError):
        decode_png(png_sig + b"\x00\x00")  # truncated mid chunk header
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE" + b"fmt \x10\x00\x00\x00\x01")


def test_read_epoch_manifests_tolerates_foreign_filenames(spark, warehouse):
    t = _mk(spark, warehouse, "foreignmanifest")
    with open(os.path.join(t.manifest_dir, "epoch_custom-tool.json"), "w") as f:
        json.dump({"external": True}, f)
    out = t.read_epoch_manifests(since_epoch=1)  # must not crash on int parse
    assert any(m.get("external") for m in out)  # unknown-epoch files are kept
