"""The MOR apply exchange is sized by ``spark.sql.shuffle.partitions``, not by
a fixed multiple of ``n_buckets``: with more buckets than shuffle partitions an
epoch still runs about one task per shuffle partition, while hash-partitioning
by ``_bucket`` keeps every bucket in one task — one file per bucket per commit,
for the apply, ``compact_buckets`` and ``rebucket`` alike. These are the
Spark plans, so the test forces them (``spark_plans``): on its small batch
the apply and the compaction would otherwise run on the driver."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable, bucket_expr
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes

N_BUCKETS = 32


def _tasks_in_group(spark, group: str) -> int:
    """Tasks that ran in ``group``'s jobs; a stage reused (skipped) by a later
    job of the group is counted once."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = set()
    for job_id in tracker.getJobIdsForGroup(group):
        stage_ids.update(tracker.getJobInfo(job_id).stageIds)
    infos = [tracker.getStageInfo(s) for s in stage_ids]
    return sum(i.numCompletedTasks for i in infos if i is not None)


def _files_per_bucket(table: LakeTable) -> Counter:
    return Counter(f["bucket"] for f in table.snapshot()["files"])


@pytest.mark.parametrize("fused", [True, False])
def test_mor_apply_tasks_follow_shuffle_partitions(spark, warehouse, fused, spark_plans):
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert N_BUCKETS > shuffle_parts  # else the bound below proves nothing
    table = LakeTable.create(
        spark, os.path.join(warehouse, f"t_{fused}"), STATE_SCHEMA,
        n_buckets=N_BUCKETS,
    )
    batch = generate_changes(
        spark, 6_000, n_conv=400, turns_per_conv=10, n_epochs=1, n_partitions=2
    ).drop("epoch")
    input_parts = batch.rdd.getNumPartitions()
    touched = {
        r[0] for r in batch.select(bucket_expr("conv_id", N_BUCKETS)).distinct().collect()
    }
    # "agg" takes the fused plan; "window" the two-exchange one
    cfg = EngineConfig(
        merge_mode="mor", dedup_strategy="agg" if fused else "window"
    )

    group = f"exchange-sizing-{fused}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "one MOR apply_changes")
    try:
        out = apply_changes(table, batch, 0, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out["status"] == "committed"

    # the fused plan has one exchange (by bucket); the split plan two (by key
    # for the dedup, by bucket for the write) — each sized by the session
    exchanges = 1 if fused else 2
    tasks = _tasks_in_group(spark, group)
    assert 0 < tasks <= exchanges * shuffle_parts + input_parts, tasks

    per_bucket = _files_per_bucket(table)
    assert set(per_bucket) == touched
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    rows = table.read_public().count()

    table.compact_buckets(sorted(touched))
    per_bucket = _files_per_bucket(table)
    assert set(per_bucket) == touched
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert {f["kind"] for f in table.snapshot()["files"]} == {"base"}

    table.rebucket(N_BUCKETS // 2)
    assert table.n_buckets() == N_BUCKETS // 2
    per_bucket = _files_per_bucket(table)
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert len(per_bucket) == N_BUCKETS // 2
    assert table.read_public().count() == rows
