"""Physical-plan audits — the queries must not just return right answers, they
must compile to the plans you'd want at 100 TB (SURVEY.md §4):

- point lookups push the key predicate into the parquet scan (PushedFilters);
- dimension joins broadcast (BroadcastHashJoin), never shuffle the fact side;
- scans prune columns (ReadSchema lists only needed columns);
- LWW agg combines map-side (partial_max_by below the Exchange — the struct
  ordering key makes the pair SortAggregate, which is fine: the partial
  combine is the scale property, hash-vs-sort is an implementation detail);
- the engine's ``window`` escape limits map-side too (WindowGroupLimit
  Partial below the Exchange);
- merge-on-read reads keep base-only buckets out of the LWW shuffle;
- no row-at-a-time Python UDFs anywhere (BatchEvalPython absent); the only
  Python is Arrow-batched mapInPandas in the multimodal stubs.
"""

import pytest

from etl_geo_dem_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return REGISTRY[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter(spark):
    plan = _plan(spark, "join_point_lookup")
    assert "PushedFilters: [" in plan
    assert "c_custkey" in plan.split("PushedFilters")[1][:200]


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    # the orders fact side must not sort-merge
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "agg_positional_sum")
    # only event_id and value should be read from the events table
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read and "value" in read
    assert "props" not in read and "event_type" not in read


def test_lww_agg_has_map_side_combine(spark):
    """The skew-defeating property of the agg strategy is PARTIAL aggregation:
    a hot key's events collapse to one row per map task before the shuffle.
    (max_by has a struct buffer, so Spark plans SortAggregate — still
    partial+final; hash vs sort is an implementation detail, the partial
    combine is the scale property.)"""
    lines = _plan(spark, "zz_cdc_lww_latest_agg").splitlines()
    # the plan prints root first: the map side sits below the first Exchange
    first_exchange = next(i for i, line in enumerate(lines) if "Exchange" in line)
    assert any("partial_max_by" in line for line in lines[first_exchange + 1:])
    assert not any("partial_max_by" in line for line in lines[:first_exchange])


def test_lww_window_limits_map_side(spark):
    """``window`` is the engine's skew escape only because Catalyst plans a
    map-side ``WindowGroupLimit ... Partial`` below the shuffle: each map task
    forwards one row per key, so a hot key cannot pile onto one reducer.
    Checked on the operator over the table key and on the plan the apply
    runs for ``dedup_strategy="window"``, the window over (bucket, key)."""
    from etl_geo_dem_spark.operators.lww import lww_winners
    from etl_geo_dem_spark.plans.lake_table import (
        BUCKET_COL,
        bucket_expr,
        bucket_winners,
    )
    from etl_geo_dem_spark.sources.changes import generate_changes

    batch = generate_changes(spark, 2000, n_conv=50, n_epochs=1)
    bucketed = batch.withColumn(BUCKET_COL, bucket_expr("conv_id", 8))
    for winners in (
        lww_winners(batch, strategy="window"),
        bucket_winners(bucketed, ["conv_id", "turn_idx"], ["ts", "lsn"], "window"),
    ):
        lines = winners._jdf.queryExecution().executedPlan().toString().splitlines()
        # the plan prints root first: the lowest Exchange is the key shuffle
        last_exchange = max(i for i, line in enumerate(lines) if "Exchange" in line)
        assert any(
            "WindowGroupLimit" in line and line.rstrip().endswith("Partial")
            for line in lines[last_exchange + 1:]
        ), "\n".join(lines)


def test_no_row_python_udfs_anywhere(spark):
    offenders = []
    for name in REGISTRY:
        try:
            plan = _plan(spark, name)
        except Exception:  # pragma: no cover - plan build issues surface elsewhere
            continue
        if "BatchEvalPython" in plan:  # row-at-a-time Python UDF
            offenders.append(name)
    assert offenders == []


def test_multimodal_uses_arrow_batches(spark):
    plan = _plan(spark, "zz_multimodal_decode_metadata")
    assert "MapInPandas" in plan  # Arrow-batched, the sanctioned slow path


@pytest.mark.parametrize(
    "name", ["cdc_lww_latest_window", "window_topk_per_group"]
)
def test_window_rank_filters_early(spark, name):
    # rank predicate evaluated inside the Window stage's filter, not post-collect
    plan = _plan(spark, name)
    assert "Window" in plan and "Filter" in plan


def test_mor_pruned_read_keeps_cold_buckets_out_of_the_shuffle(spark, tmp_path):
    """After compaction + one hot epoch, the read plan must be
    Union(cold base scan, LWW-agg(hot scan)): exactly one max_by aggregate
    branch, and the cold-side scan feeds the Union without passing through it."""
    import datetime
    import os

    from etl_geo_dem_spark.config import EngineConfig
    from etl_geo_dem_spark.plans.lake_table import LakeTable
    from etl_geo_dem_spark.plans.merge import apply_changes, replay
    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
    from etl_geo_dem_spark.sources.changes import generate_changes

    table = LakeTable.create(spark, os.path.join(str(tmp_path), "t"), STATE_SCHEMA, n_buckets=8)
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    replay(table, generate_changes(spark, 2000, n_conv=200, n_epochs=2, evolve_from_epoch=None), cfg)
    table.compact()
    one = spark.createDataFrame(
        [("U", "conv_000000003", 0, "user", "hot", None,
          datetime.datetime(2031, 1, 1), 10**9, 99)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, one, 99, cfg)

    plan = table.read_public()._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan
    assert plan.count("partial_max_by") == 1  # one aggregate branch, not per-bucket, not global
    # two scans: the cold base-only side and the hot base∪delta side
    assert plan.count("Scan parquet") == 2
