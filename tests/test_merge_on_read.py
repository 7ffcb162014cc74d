"""Merge-on-read mode: delta appends + read-time LWW resolution + compaction.

MOR must be observationally identical to copy-on-write — same oracle state,
same resume semantics — while writing O(batch) instead of O(touched state)
per epoch."""

import os

from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

MOR = EngineConfig(merge_mode="mor")
COW = EngineConfig(merge_mode="cow")


def _replay(spark, warehouse, name, cfg, ch, evolve=3):
    table = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8)
    for e, b in epoch_batches(ch, evolve_from_epoch=evolve):
        apply_changes(table, b, e, cfg)
    return table


def _state(table):
    return table.read_public().orderBy("conv_id", "turn_idx").toPandas()


def test_mor_equals_cow_final_state(spark, warehouse):
    ch = generate_changes(spark, 3000, n_conv=60, n_epochs=5, evolve_from_epoch=3)
    mor = _replay(spark, warehouse, "mor", MOR, ch)
    cow = _replay(spark, warehouse, "cow", COW, ch)
    a, b = _state(mor), _state(cow)
    assert len(a) > 0 and a.equals(b)
    # MOR accumulated delta files; COW kept one base generation
    kinds = {f.get("kind") for f in mor.snapshot()["files"]}
    assert kinds == {"delta"}  # never wrote a base (empty initial table)


def test_mor_write_amplification_is_o_batch(spark, warehouse):
    """Each MOR epoch writes ~winners rows; COW rewrites whole touched buckets.
    Compare bytes written in the LAST epoch (state >> batch by then)."""
    ch = generate_changes(spark, 6000, n_conv=100, n_epochs=6, evolve_from_epoch=None)
    mor = _replay(spark, warehouse, "mor2", MOR, ch, evolve=None)
    cow = _replay(spark, warehouse, "cow2", COW, ch, evolve=None)
    last_mor = mor.read_epoch_manifests()[-1]
    last_cow = cow.read_epoch_manifests()[-1]
    mor_rows = sum(v["rows"] for v in last_mor["lineage"].values())
    cow_rows = sum(v["rows"] for v in last_cow["lineage"].values())
    assert mor_rows < cow_rows  # delta << rewritten state


def test_mor_compaction_folds_deltas(spark, warehouse):
    _check_compaction_folds_deltas(spark, warehouse)


def test_mor_compaction_folds_deltas_spark_plans(spark, warehouse, spark_plans):
    _check_compaction_folds_deltas(spark, warehouse)


def _check_compaction_folds_deltas(spark, warehouse):
    ch = generate_changes(spark, 3000, n_conv=60, n_epochs=5, evolve_from_epoch=3)
    table = _replay(spark, warehouse, "morc", MOR, ch)
    before = _state(table)
    table.compact()
    files = table.snapshot()["files"]
    assert {f.get("kind") for f in files} == {"base"}
    assert len(files) == len({f["bucket"] for f in files})  # one file per bucket
    assert _state(table).equals(before)
    # post-compaction epochs keep working (mixed base+delta reads)
    import datetime

    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA

    late = spark.createDataFrame(
        [("U", "conv_000001", 1, "user", "after-compact", None,
          datetime.datetime(2032, 1, 1), 10**13, 50)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, late, 50, MOR)
    row = table.read_public().filter("conv_id='conv_000001' AND turn_idx=1").collect()
    assert row[0]["text"] == "after-compact"


def test_mor_resume_and_delete_semantics(spark, warehouse):
    ch = generate_changes(spark, 2000, n_conv=50, n_epochs=4, evolve_from_epoch=None)
    table = _replay(spark, warehouse, "morr", MOR, ch, evolve=None)
    v, rows = table.current_version(), table.read_public().count()
    # re-apply all epochs after a "restart" — skipped on metadata
    t2 = LakeTable.load(spark, table.path)
    for e, b in epoch_batches(ch):
        assert apply_changes(t2, b, e, MOR)["status"] == "skipped"
    assert t2.current_version() == v and t2.read_public().count() == rows
    # oracle equality
    from etl_geo_dem_spark.oracle.replayer import replay_reference

    exp = replay_reference([r.asDict() for r in ch.collect()])
    got = _state(t2)
    assert got["text"].fillna("∅").tolist() == [
        r["text"] if r["text"] is not None else "∅" for r in exp
    ]


def test_mor_auto_compaction_bounds_delta_chains(spark, warehouse):
    """With max_deltas_per_bucket=3, a long replay keeps every bucket's delta
    chain bounded and the state stays oracle-correct. Batches and buckets
    this small are applied and compacted on the driver."""
    assert _check_auto_compaction(spark, warehouse) == {"arrow"}


def test_mor_auto_compaction_bounds_delta_chains_spark_plans(spark, warehouse, spark_plans):
    assert _check_auto_compaction(spark, warehouse) == {"spark"}


def _check_auto_compaction(spark, warehouse) -> set[str]:
    """Replay with auto-compaction; returns the paths the in-commit folds
    took."""
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=3)
    ch = generate_changes(spark, 4000, n_conv=40, n_epochs=10, evolve_from_epoch=None)
    table = LakeTable.create(spark, os.path.join(warehouse, "morauto"), STATE_SCHEMA, n_buckets=4)
    for e, b in epoch_batches(ch):
        apply_changes(table, b, e, cfg)
    counts = table.delta_counts()
    assert all(c < 3 + 1 for c in counts.values())  # folded whenever >= 3
    assert any(m["compacted_buckets"] for m in table.read_epoch_manifests())
    from etl_geo_dem_spark.oracle.replayer import replay_reference

    exp = replay_reference([r.asDict() for r in ch.collect()])
    got = _state(table)
    assert got["text"].fillna("∅").tolist() == [
        r["text"] if r["text"] is not None else "∅" for r in exp
    ]
    return {
        m["fold_path"] for m in table.read_epoch_manifests() if m["compacted_buckets"]
    }


def test_mor_read_resolves_only_delta_buckets(spark, warehouse):
    """Resolution pruning: after compaction + one small epoch, the LWW reduce
    in the read plan covers only delta-bearing buckets; base-only buckets
    stream through without the shuffle. Final state must equal the COW twin
    (per-epoch full resolution)."""
    import datetime

    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA

    ch = generate_changes(spark, 3000, n_conv=300, n_epochs=2, evolve_from_epoch=None)
    mor = _replay(spark, warehouse, "mor_pruned",
                  EngineConfig(merge_mode="mor", max_deltas_per_bucket=0), ch, evolve=None)
    cow = _replay(spark, warehouse, "cow_twin", COW, ch, evolve=None)
    mor.compact()  # all buckets base-only now
    one = spark.createDataFrame(
        [("U", "conv_000000007", 1, "user", "hot", None,
          datetime.datetime(2031, 1, 1), 10**9, 99)],
        CHANGE_SCHEMA,
    )
    apply_changes(mor, one, 99, EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))
    apply_changes(cow, one, 99, COW)

    snap = mor.snapshot()
    delta_buckets = {f["bucket"] for f in snap["files"] if f.get("kind") == "delta"}
    assert len(delta_buckets) == 1  # one hot bucket
    got = _state(mor)
    exp = _state(cow)
    assert got.equals(exp)
    assert got[(got.conv_id == "conv_000000007") & (got.turn_idx == 1)]["text"].iloc[0] == "hot"
