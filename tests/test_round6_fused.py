"""Round-6 fused-exchange MOR apply (``dedup_strategy="agg"`` on MOR): the
dedup aggregate and the writer's bucket clustering share ONE shuffle. Pins
(a) final-state equivalence with the two-exchange ``window`` plan across
restarts and schema evolution, and (b) the single-Exchange plan shape. The
applies here force the Spark plans (``spark_plans``): their small batches
would otherwise take the driver path, where the strategy plays no part."""

from __future__ import annotations

import os

import pytest
from conftest import forced_spark_plans
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import (
    BUCKET_COL,
    LakeTable,
    bucket_expr,
    bucket_winners,
)
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes


def _cfg(fused: bool) -> EngineConfig:
    """The fused plan, or the two-exchange ``window`` plan it must equal."""
    return EngineConfig(
        dedup_strategy="agg" if fused else "window", merge_mode="mor"
    )


def _replay(spark, path, fused: bool):
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(
        spark, 30_000, n_conv=300, turns_per_conv=20, n_epochs=3,
        evolve_from_epoch=2, n_partitions=8,
    )
    cfg = _cfg(fused)
    for e, batch in epoch_batches(ch, evolve_from_epoch=2):
        apply_changes(table, batch, e, cfg)
    return table


def test_fused_final_state_equals_split(spark, warehouse, spark_plans):
    t_fused = _replay(spark, os.path.join(warehouse, "fused"), fused=True)
    t_split = _replay(spark, os.path.join(warehouse, "split"), fused=False)
    cols = sorted(t_fused.read_public().columns)
    assert "tool_args" in cols  # the epoch-2 evolution reached the fused table
    a = t_fused.read_public().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    b = t_split.read_public().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    assert len(a) > 0
    assert a.equals(b)


def _assert_one_bucket_exchange(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 1, f"expected 1 Exchange, got {n_exchanges}:\n{plan}"
    assert BUCKET_COL in plan.split("Exchange", 1)[1].split("\n", 1)[0], plan


def test_fused_agg_is_single_exchange(spark, warehouse):
    """The fused plan's whole point: repartition by storage bucket, then
    aggregate by (bucket, key) WITHOUT a second exchange — Spark must accept
    hash(bucket) partitioning as satisfying the (bucket, key) clustering.
    Pinned for the plan the apply runs (``bucket_winners``) and for the
    Spark fold of a delta-bearing bucket subset (the in-commit fold and
    ``compact_buckets``), which runs the same plan."""
    ch = generate_changes(spark, 5_000, n_conv=100, turns_per_conv=10,
                          n_epochs=2, n_partitions=4)
    bucketed = ch.withColumn(BUCKET_COL, bucket_expr("conv_id", 8))
    _assert_one_bucket_exchange(
        bucket_winners(bucketed, ["conv_id", "turn_idx"], ["ts", "lsn"], "agg")
    )

    table = LakeTable.create(
        spark, os.path.join(warehouse, "fold"), STATE_SCHEMA, n_buckets=8
    )
    never = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    for e in (0, 1):
        apply_changes(table, ch.filter(F.col("epoch") == e), e, never)
    snap = table.snapshot_meta()
    subset = [f for f in table._files_of(snap) if f["bucket"] in (1, 2, 5)]
    assert any(f["kind"] == "delta" for f in subset)
    with forced_spark_plans():
        rows, on_driver = table._fold_files(snap, subset, None)
    assert not on_driver
    _assert_one_bucket_exchange(rows)


@pytest.mark.parametrize("fused", [True, False])
def test_fused_epoch_skip_and_resume(spark, warehouse, fused, spark_plans):
    """Exactly-once invariants are strategy-independent: re-applying a
    committed epoch is a skip, and a second process-level replay converges."""
    path = os.path.join(warehouse, f"resume_{fused}")
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 10_000, n_conv=100, turns_per_conv=10,
                          n_epochs=2, n_partitions=4)
    cfg = _cfg(fused)
    m0 = apply_changes(table, ch.filter(F.col("epoch") == 0), 0, cfg)
    assert m0["status"] == "committed"
    again = apply_changes(table, ch.filter(F.col("epoch") == 0), 0, cfg)
    assert again["status"] == "skipped"
    m1 = apply_changes(table, ch.filter(F.col("epoch") == 1), 1, cfg)
    assert m1["status"] == "committed"
    assert table.last_epoch() == 1
