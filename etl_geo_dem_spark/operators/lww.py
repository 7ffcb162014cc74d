"""Last-writer-wins dedup — the engine's core operator.

Reference analog: the flagship coastal-flooding loop computes, per tile, the final
value as "latest level wins" through an iterative per-key stateful scan
(`scripts/pipelines/pipeline_transform_sea_level.py:1424-1545`). In the CDC engine
that collapses to a single per-key reduction: ``final(conv_id, turn_idx) =
argmax_{(ts, lsn)} event`` — SURVEY.md §2.5 W1.

Three physical strategies for the same logical result (``STRATEGIES``):

- ``agg``      ``groupBy(key).agg(max(struct(ts, lsn, payload...)))``. Partial
               (map-side) aggregation combines locally before the shuffle, so a hot
               key's millions of events collapse to one row per map task — this is
               the skew-free default and the plan you want at 10^10 events.
- ``window``   ``row_number() over (partition by key order by ts desc, lsn desc) = 1``.
               On Spark ≥ 3.5 Catalyst rewrites the rank-1 filter into
               ``WindowGroupLimit ... Partial`` BELOW the shuffle — each map task
               forwards only its local winner per key, so this formulation is
               skew-safe too (measured: a 24M-row single hot key costs the same
               as uniform data; BENCH/SKEW.md).
- ``salted_window``  two-stage: explicit salt on detected hot keys → rank inside
               ``(key, salt)`` → re-rank the per-salt winners inside ``key``. The
               BASELINE-mandated skew defeat (the gap the reference's count-balanced
               ``split_list`` never fixed, `pipeline_transform_vrt_gdal.py:41-62`).
               Retained for the cases the built-in rewrites don't cover (rank ≤ k
               with ties, engines without WindowGroupLimit, skewed joins).

All three are pure pyspark.sql expressions — no Python in the hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_geo_dem_spark.schemas import KEY_COLS, ORDER_COLS

STRATEGIES = ("agg", "window", "salted_window")


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
    output. Ties on the full ``(ts, lsn)`` stamp are duplicate deliveries of
    the same event (identical payload), so ``max_by``'s tie nondeterminism is
    immaterial.
    """
    rest = [c for c in df.columns if c not in key_cols]
    winners = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*rest), F.struct(*order_cols)).alias("_w")
    )
    return winners.select(
        *key_cols, *[F.col(f"_w.{c}").alias(c) for c in rest]
    ).select(*df.columns)


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
    hot_keys: Sequence[str] | None = None,
    hot_key_col: str | None = None,
) -> DataFrame:
    """Two-stage salted LWW rank for skewed key distributions.

    Stage 1 partitions hot keys into ``salt_buckets`` sub-partitions (salt derived
    from ``xxhash64(lsn)`` so it is deterministic and spreads uniformly), keeping
    one winner per ``(key, salt)``; stage 2 re-ranks the ≤``salt_buckets`` winners
    per key. Cold keys take salt 0 and pass through stage 1 unsplit.

    If ``hot_keys`` is None every key is salted (safe, slightly more stage-2 work).
    """
    hot_key_col = hot_key_col or key_cols[0]
    salt_src = F.xxhash64(*[F.col(c) for c in order_cols])
    salt = F.pmod(salt_src, F.lit(salt_buckets)).cast("int")
    if hot_keys is not None:
        is_hot = F.col(hot_key_col).isin(list(hot_keys))
        salt = F.when(is_hot, salt).otherwise(F.lit(0))
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
    salt_buckets: int = 16,
    hot_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Dispatch over the physical strategies (identical logical result)."""
    if strategy == "agg":
        return lww_winners_agg(df, key_cols, order_cols)
    if strategy == "window":
        return lww_winners_window(df, key_cols, order_cols)
    if strategy == "salted_window":
        return lww_winners_salted_window(
            df, key_cols, order_cols, salt_buckets=salt_buckets, hot_keys=hot_keys
        )
    raise ValueError(f"unknown LWW strategy {strategy!r}; expected one of {STRATEGIES}")
