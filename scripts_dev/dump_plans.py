"""Dump annotated physical plans of the engine's hot paths → docs/PLANS.md.

The evidence for "explain and iterate until it's the plan you'd want":
filter pushdown at the scan, broadcast dim joins, map-side partial
aggregation in the LWW reduce, the one-exchange Spark bucket fold,
bucket-pruned lake reads, Arrow-only Python.

Run from the repository root: ``python scripts_dev/dump_plans.py``. Only the
part of docs/PLANS.md after the ``MARKER`` line is rewritten; the
hand-written sections above it are kept.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_geo_dem_spark.config import EngineConfig  # noqa: E402
from etl_geo_dem_spark.plans import lake_table  # noqa: E402
from etl_geo_dem_spark.plans.lake_table import LakeTable  # noqa: E402
from etl_geo_dem_spark.plans.merge import apply_changes  # noqa: E402
from etl_geo_dem_spark.queries import REGISTRY  # noqa: E402
from etl_geo_dem_spark.schemas import STATE_SCHEMA  # noqa: E402
from etl_geo_dem_spark.session import get_spark  # noqa: E402
from etl_geo_dem_spark.sources.changes import generate_changes  # noqa: E402

SF = "/root/testdata/sf0.001"
PLANS = "docs/PLANS.md"
MARKER = (
    "<!-- Generated by scripts_dev/dump_plans.py (sf0.001, local[4]): "
    "everything below this line is rewritten. -->"
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def generated_sections(spark, wh: str) -> list[str]:
    """The generated sections of docs/PLANS.md, from a table built under ``wh``."""
    sections = []

    def add(title, note, df):
        sections.append(f"## {title}\n\n{note}\n\n```\n{plan_of(df)}\n```\n")

    table = LakeTable.create(spark, wh + "/t", STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 20_000, n_conv=200, n_epochs=2)
    apply_changes(table, ch.filter(F.col("epoch") == 0), 0, EngineConfig(merge_mode="mor"))
    apply_changes(table, ch.filter(F.col("epoch") == 1), 1, EngineConfig(merge_mode="mor"))

    add(
        "Lake read with merge-on-read resolution",
        "base∪delta parquet scan (explicit file list from the snapshot — bucket "
        "pruning is metadata-only, and no listing job at any file count: "
        "get_spark keeps Spark's listing of the named files on the driver, one "
        "stat per file, where above 32 paths it would run a job of one task "
        "per path — test_read_planning.py) → SortAggregate pair "
        "(the struct ordering key has no fixed-width mutable buffer, so Spark "
        "picks sort-based aggregation) with partial_max_by BEFORE the exchange "
        "— the map-side combine that matters: a hot key collapses to ≤1 row "
        "per task before any shuffle. (Here every bucket carries deltas, so "
        "all of them resolve; with a compacted table plus a small hot epoch, "
        "LakeTable.read unions base-only buckets AROUND the aggregate and the "
        "shuffle covers only delta-bearing buckets — "
        "test_mor_read_resolves_only_delta_buckets.)",
        table.read_public(),
    )
    snap = table.snapshot_meta()
    subset = [f for f in table._files_of(snap) if f["bucket"] in (1, 2, 5)]
    bound = lake_table.DRIVER_FOLD_BYTES
    lake_table.DRIVER_FOLD_BYTES = -1  # the Spark plan, whatever the size
    try:
        rows, _ = table._fold_files(snap, subset, None)
    finally:
        lake_table.DRIVER_FOLD_BYTES = bound
    add(
        "Spark bucket fold",
        "LakeTable._fold_files over three delta-bearing buckets above the "
        "driver bound (the in-commit fold of an epoch, compact_buckets): "
        "lake_table.bucket_winners, the plan the apply runs above the bound "
        "with dedup_strategy=\"agg\". ONE Exchange, hashpartitioning(_bucket), "
        "then the SortAggregate pair by (_bucket, conv_id, turn_idx) with no "
        "exchange of its own: the bucket is a function of the key, so each "
        "key already sits in one task. The writer takes the output "
        "pre_partitioned and adds no repartition. (The whole-table rewrites "
        "keep LakeTable._resolved and the writer's repartition by bucket: an "
        "exchange by key for the delta-bearing buckets, then one by bucket.)",
        rows,
    )
    add(
        "Key-filtered read_public() scan of the transcript table",
        "the key predicate reaches the parquet scan as PushedFilters — the scan "
        "touches row groups whose stats match, nothing else. (LakeTable."
        "point_lookup runs no Spark plan: it reads the pruned files with "
        "pyarrow and folds LWW on the driver.)",
        table.read_public().filter(
            (F.col("conv_id") == "conv_000001") & (F.col("turn_idx") == 1)
        ),
    )
    add(
        "LWW dedup (agg strategy) over the raw change stream",
        "partial_max_by on the scan side of the Exchange = map-side combine; "
        "the payload travels once per (key, map task), not once per event.",
        REGISTRY["zz_cdc_lww_latest_agg"].fn(spark, SF),
    )
    add(
        "Dimension join",
        "BroadcastHashJoin on every dim edge; the fact table is never shuffled.",
        REGISTRY["join_broadcast_dims"].fn(spark, SF),
    )
    add(
        "Column pruning",
        "ReadSchema carries only event_id+value — the projection reached the scan.",
        REGISTRY["agg_positional_sum"].fn(spark, SF),
    )
    add(
        "Multimodal decode (the sanctioned Python path)",
        "MapInPandas (Arrow batches); BatchEvalPython (row-at-a-time) appears in "
        "no plan in the registry (tests/test_plans.py enforces).",
        REGISTRY["zz_multimodal_decode_metadata"].fn(spark, SF),
    )

    return sections


def main():
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    with tempfile.TemporaryDirectory(prefix="plans_") as wh:
        sections = generated_sections(spark, wh)
    with open(PLANS) as f:
        kept, found, _ = f.read().partition(MARKER + "\n")
    if not found:
        raise SystemExit(f"{PLANS} has no marker line {MARKER!r}: not rewriting it")
    with open(PLANS, "w") as f:
        f.write(kept + MARKER + "\n\n" + "\n".join(sections))
    print(f"rewrote the generated sections of {PLANS}")


if __name__ == "__main__":
    main()
