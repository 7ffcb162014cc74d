"""Engine configuration.

Analog of the reference's config-as-catalog YAML (`scripts/settings.py:13-14`,
consumed everywhere as ``config[...]``) — one typed object instead of a dict of
paths.
"""

from __future__ import annotations

from dataclasses import dataclass

from etl_geo_dem_spark.operators.lww import STRATEGIES

MERGE_MODES = ("cow", "mor")


@dataclass(frozen=True)
class EngineConfig:
    """Tuning knobs for the CDC apply path.

    Skew has one knob: ``dedup_strategy``. The default ``"agg"`` combines on
    the map side; ``"window"`` is the escape for a batch dominated by one key.
    Explicit salting is not an engine strategy: it measured slower than
    ``"window"`` on a single-hot-key batch (BENCH/SKEW.md), and survives only
    as the ``lww_winners_salted_window`` operator.
    """

    # one of operators.lww.STRATEGIES: it picks the apply's Spark plan only
    # (lake_table.bucket_winners). A batch that fits the driver
    # (lake_table.fits_driver) is folded with pyarrow whatever this says, and
    # bucket folds (the in-commit fold, compact_buckets) always use "agg".
    # "agg" is planned as ONE exchange by storage bucket, then an aggregate
    # by (bucket, key) that Spark runs without a second exchange. The trade:
    # no map-side combine before that shuffle, and skew granularity becomes
    # the storage bucket. For a batch dominated by one key use "window": a
    # two-exchange plan whose map-side WindowGroupLimit ships one row per key
    # per map task. Measured at local[4] on a 4-core host, one MOR epoch of
    # 4.2M events with one key carrying 80% of them, median of 3 warm runs:
    # "agg" 5.24 s, "window" 3.12 s. Final state is identical either way
    # (tests/test_round6_fused.py).
    dedup_strategy: str = "agg"
    # One fold rule (plans/merge.py): the epoch writes its LWW winners as
    # per-bucket DELTA files, and inside the same commit every touched bucket
    # whose delta-file count, this epoch's included, reaches a threshold folds
    # into its base. merge_mode names the threshold:
    #   "cow" — copy-on-write: threshold 1, every touched bucket folds; reads
    #           are plain scans. Write amplification O(state per touched
    #           bucket).
    #   "mor" — merge-on-read: threshold max_deltas_per_bucket; until then
    #           commits write O(batch) and reads resolve LWW over base ∪
    #           deltas. The Iceberg v2-style tradeoff, from scratch.
    merge_mode: str = "cow"
    # the "mor" threshold, which bounds read amplification; 0 = never fold
    # (then only compact(), compact_buckets() or run_maintenance.py do). A
    # bucket over it that no epoch touches folds only that way too.
    max_deltas_per_bucket: int = 16

    def __post_init__(self) -> None:
        if self.merge_mode not in MERGE_MODES:
            raise ValueError(
                f"unknown merge_mode {self.merge_mode!r}; expected one of {MERGE_MODES}"
            )
        if self.max_deltas_per_bucket < 0:
            raise ValueError(
                f"max_deltas_per_bucket must be >= 0 (0 = never fold), "
                f"got {self.max_deltas_per_bucket}"
            )
        if self.dedup_strategy not in STRATEGIES:
            raise ValueError(
                f"unknown dedup_strategy {self.dedup_strategy!r}; "
                f"expected one of {STRATEGIES}"
            )
