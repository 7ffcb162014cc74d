"""Last-writer-wins dedup — the engine's core operator.

Reference analog: the flagship coastal-flooding loop computes, per tile, the final
value as "latest level wins" through an iterative per-key stateful scan
(`scripts/pipelines/pipeline_transform_sea_level.py:1424-1545`). In the CDC engine
that collapses to a single per-key reduction: ``final(conv_id, turn_idx) =
argmax_{(ts, lsn)} event`` — SURVEY.md §2.5 W1.

Two physical strategies for the same logical result (``STRATEGIES``), both
selectable as ``EngineConfig.dedup_strategy``:

- ``agg``      ``groupBy(key).agg(max_by(struct(payload...), struct(ts, lsn)))``.
               Partial (map-side) aggregation combines locally before the
               shuffle, so a hot key's millions of events collapse to one row per
               map task — the default and the plan you want at 10^10 events.
- ``window``   ``row_number() over (partition by key order by ts desc, lsn desc) = 1``.
               On Spark ≥ 3.5 Catalyst rewrites the rank-1 filter into
               ``WindowGroupLimit ... Partial`` BELOW the shuffle — each map task
               forwards only its local winner per key, so this formulation is
               skew-safe too (measured: a 24M-row single hot key costs the same
               as uniform data; BENCH/SKEW.md). The engine's escape for a batch
               dominated by one key.

``lww_winners_salted_window`` is a third formulation kept as an operator only
(the ``zz_cdc_lww_latest_salted`` registry query calls it): an explicit salt
splits every key, a rank inside ``(key, salt)``, then a re-rank inside ``key``.
It is the textbook skew defeat that the reference's count-balanced
``split_list`` never had (`pipeline_transform_vrt_gdal.py:41-62`), but on a
single-hot-key batch it measured slower than ``window``, so the engine does
not dispatch to it (BENCH/SKEW.md).

All of them are pure pyspark.sql expressions — no Python in the hot path.

``lww_winners_arrow`` is the same fold over a driver-side Arrow table, for
inputs too small to be worth a Spark job. It serves the point lookup
(``LakeTable.point_lookup`` reads a few KB of pruned files and resolves them
here), the apply (a change batch that fits the driver, such as one
streaming micro-batch, is folded here by (bucket, key), its output already
in the bucket writer's order; ``plans/merge.py``) and the bucket folds of
compaction and of the in-commit fold (``LakeTable._fold_files`` folds each
small bucket's stored files here). Larger inputs fold by (bucket, key) with
``lake_table.bucket_winners``: the apply with the strategy
``EngineConfig.dedup_strategy`` names, the bucket folds always with
``agg``, because a bucket's whole chain already lands in one writer task.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_geo_dem_spark.schemas import KEY_COLS, ORDER_COLS

if TYPE_CHECKING:
    import pyarrow as pa

STRATEGIES = ("agg", "window")


def _desc_order(order_cols: Sequence[str]) -> list[Column]:
    return [F.col(c).desc() for c in order_cols]


def lww_winners_agg(
    df: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    order_cols: Sequence[str] = ORDER_COLS,
) -> DataFrame:
    """Skew-free LWW reduce via ``max_by(payload, order)`` with map-side partial
    aggregation.

    The executed plan (docs/PLANS.md, dumped by scripts_dev/dump_plans.py) is a
    SortAggregate pair — the struct ordering key has no fixed-width mutable
    buffer, so Spark picks sort-based aggregation — but crucially with
    ``partial_max_by`` BELOW the exchange: each task collapses its rows to one
    candidate per key before any shuffle, which is what makes the reduce
    skew-safe (a hot key ships ≤1 row per map task regardless of its row
    count). Measured ~2.5× faster than ``max(struct(...))`` for the same
    output. A tie on the full ``(ts, lsn)`` stamp is not always a duplicate
    with an identical payload (an event re-applied after its column was
    dropped and re-added carries the re-added value), and ``max_by`` keeps
    whichever tied row it meets first. :func:`lww_winners_arrow` keeps the
    first in input order, and the in-commit fold lists the epoch's files
    first (``plans/merge.py:_fold_touched``): there the new delivery wins.
    """
    rest = [c for c in df.columns if c not in key_cols]
    winners = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*rest), F.struct(*order_cols)).alias("_w")
    )
    return winners.select(
        *key_cols, *[F.col(f"_w.{c}").alias(c) for c in rest]
    ).select(*df.columns)


def lww_winners_arrow(
    table: pa.Table,
    key_cols: Sequence[str] = KEY_COLS,
    order_cols: Sequence[str] = ORDER_COLS,
) -> pa.Table:
    """The :func:`lww_winners_agg` result for an Arrow table, in one
    vectorised pass on the driver: sort by key ascending and ``order_cols``
    descending, then keep the first row of each key, whole.

    A null order value sorts last, i.e. lowest, as in ``max_by``'s struct
    ordering; the sort is stable, so of tied rows the first wins. The winner
    is taken by row index rather than by a per-column ``first`` aggregate, which skips nulls and would take a losing version's
    non-null value where the winner's is null. Winners come out in key order.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if table.num_rows == 0:
        return table
    ranked = table.take(
        pc.sort_indices(
            table,
            sort_keys=[(c, "ascending") for c in key_cols]
            + [(c, "descending") for c in order_cols],
            null_placement="at_end",
        )
    )
    pos = ranked.select(list(key_cols)).append_column(
        "_pos", pa.array(np.arange(ranked.num_rows))
    )
    first = pos.group_by(list(key_cols), use_threads=False).aggregate(
        [("_pos", "min")]
    )["_pos_min"]
    return ranked.take(np.sort(first.to_numpy()))


def lww_winners_window(
    df: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    order_cols: Sequence[str] = ORDER_COLS,
) -> DataFrame:
    """Rank-based LWW: row_number()==1 over key partition, latest first."""
    w = Window.partitionBy(*key_cols).orderBy(*_desc_order(order_cols))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_winners_salted_window(
    df: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    order_cols: Sequence[str] = ORDER_COLS,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage salted LWW rank for skewed key distributions.

    Stage 1 splits every key into ``salt_buckets`` sub-partitions (salt derived
    from ``xxhash64(order_cols)`` so it is deterministic and spreads uniformly),
    keeping one winner per ``(key, salt)``; stage 2 re-ranks the
    ≤``salt_buckets`` winners per key.
    """
    salt_src = F.xxhash64(*[F.col(c) for c in order_cols])
    salt = F.pmod(salt_src, F.lit(salt_buckets)).cast("int")
    salted = df.withColumn("_salt", salt)
    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*_desc_order(order_cols))
    stage1 = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*_desc_order(order_cols))
    return (
        stage1.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_salt")
    )


def lww_winners(
    df: DataFrame,
    key_cols: Sequence[str] = KEY_COLS,
    order_cols: Sequence[str] = ORDER_COLS,
    strategy: str = "agg",
) -> DataFrame:
    """Dispatch over the physical strategies (identical logical result)."""
    if strategy == "agg":
        return lww_winners_agg(df, key_cols, order_cols)
    if strategy == "window":
        return lww_winners_window(df, key_cols, order_cols)
    raise ValueError(f"unknown LWW strategy {strategy!r}; expected one of {STRATEGIES}")
