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

    n_buckets: storage bucketing of the transcript table by ``hash(conv_id)``.
        The unit of copy-on-write during MERGE — only buckets touched by a change
        batch are rewritten (reference analog: only coastal/low tiles processed,
        `pipeline_transform_sea_level.py:1747-1792`). At 100 TB you would set this
        to O(thousands); file count per commit stays = touched buckets.
    salt_buckets: fan-out for the salted first stage of LWW dedup on hot keys.
    hot_key_threshold: a conv_id is "hot" if it carries more than this fraction
        of the sampled batch (BASELINE: top-1% keys carry ≥50% of events).
    hot_key_sample: fraction of the batch sampled for hot-key detection
        (detection must not itself shuffle the full batch).
    """

    n_buckets: int = 32
    salt_buckets: int = 16
    hot_key_threshold: float = 0.01
    hot_key_sample: float = 0.1
    # one of operators.lww.STRATEGIES. On MOR, "agg" is planned as ONE
    # exchange by storage bucket, then an aggregate by (bucket, key) that
    # Spark runs without a second exchange (plans/merge.py). The trade: no
    # map-side combine before that shuffle, and skew granularity becomes the
    # storage bucket. For a batch dominated by one key use "window": a
    # two-exchange plan whose map-side WindowGroupLimit ships one row per key
    # per map task. Measured at local[4] on a 4-core host, one MOR epoch of
    # 4.2M events with one key carrying 80% of them, median of 3 warm runs:
    # "agg" 5.24 s, "window" 3.12 s. Final state is identical either way
    # (tests/test_round6_fused.py).
    dedup_strategy: str = "agg"
    # merge_mode:
    #   "cow" — copy-on-write: every epoch rewrites touched buckets; reads are
    #           plain scans. Write amplification O(state per touched bucket).
    #   "mor" — merge-on-read: every epoch appends per-bucket DELTA files
    #           (O(batch) writes); reads resolve LWW over base ∪ deltas;
    #           compaction folds deltas back into the base. The Iceberg
    #           v2-style tradeoff, from scratch.
    merge_mode: str = "cow"
    # mor only: auto-fold a bucket's deltas back into its base once it
    # accumulates this many delta files (bounds read amplification; 0 = never)
    max_deltas_per_bucket: int = 16
    target_file_rows: int = 5_000_000

    def __post_init__(self) -> None:
        if self.merge_mode not in MERGE_MODES:
            raise ValueError(
                f"unknown merge_mode {self.merge_mode!r}; expected one of {MERGE_MODES}"
            )
        if self.dedup_strategy not in STRATEGIES:
            raise ValueError(
                f"unknown dedup_strategy {self.dedup_strategy!r}; "
                f"expected one of {STRATEGIES}"
            )
