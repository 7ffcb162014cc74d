"""Structured Streaming CDC ingest — the binlog/WAL tail as a live stream.

``readStream`` over the change-file directory → ``foreachBatch`` →
:func:`etl_geo_dem_spark.plans.merge.apply_changes` with ``epoch_id = batch_id``.

Exactly-once story (the streaming strengthening of the reference's
skip-if-exists restart, `pipeline_transform_sea_level.py:1377-1380`):
- Spark's streaming checkpoint (offset WAL) gives at-least-once delivery of
  micro-batches with STABLE batch ids on retry;
- the engine's epoch watermark commits atomically inside the lake snapshot, so
  a re-delivered batch id is a metadata no-op — at-least-once delivery ×
  idempotent apply = exactly-once table state;
- even a batch re-applied under a NEW id converges (LWW is idempotent).

Late/out-of-order data needs no second pass (reference analog: the two-pass
convergence loop, `pipeline_flows.py:325-377`, T4): the per-key shuffle brings
every key's events to one task and LWW orders them by (ts, lsn), so lateness
only ever loses to newer stamps — never corrupts.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes


def start_cdc_ingest(
    spark: SparkSession,
    table: LakeTable,
    source_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    cfg: EngineConfig = EngineConfig(),
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    dedup_watermark: str | None = None,
    stream_id: str | None = None,
    expectations: dict | None = None,
    fail_on_violation: bool = False,
):
    """Tail ``source_dir`` for change-event parquet files and MERGE each
    micro-batch into ``table``. Returns the StreamingQuery.

    ``stream_id`` identifies this stream in the table's per-stream exactly-once
    watermark map; it defaults to the (normalized) checkpoint path — the same
    identity Spark's offset WAL keys batch ids on, so a restart from the same
    checkpoint resumes the same watermark while a FRESH checkpoint (whose batch
    ids restart at 0) gets a fresh watermark instead of being silently
    swallowed by another source's progress.

    ``dedup_watermark`` (e.g. ``"30 minutes"``) enables a stateful
    exact-duplicate pre-filter — ``dropDuplicatesWithinWatermark`` on the full
    event identity, DERIVED FROM THE TABLE'S OWN METADATA (``key_cols +
    order_cols``, with the event-time watermark on the first order column) so
    a table created with non-default keys streams correctly — that drops
    re-delivered events across micro-batches BEFORE they reach the MERGE
    shuffle. Purely an
    optimization for heavily duplicate-delivering sources (a WAL tail that
    re-reads segments after reconnects): the LWW MERGE is already idempotent,
    so final state is identical either way; what changes is shuffle volume.
    State is bounded by the watermark horizon, exactly like the reference's
    bounded out-of-orderness assumption (tombstone horizon).

    ``expectations`` / ``fail_on_violation`` pass through to
    :func:`apply_changes` per micro-batch: violation counts land in every
    micro-batch's epoch manifest; with the gate on, a bad batch fails the
    stream BEFORE its snapshot commit, and the checkpoint re-delivers the
    same batch id on restart — nothing is lost or double-applied."""
    import os

    sid = stream_id or os.path.realpath(checkpoint_dir)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    if dedup_watermark:
        # event identity from TABLE metadata, not hardcoded column names —
        # the stateful dedup must key on whatever this table's merge keys on
        meta = table.snapshot_meta()
        ident = list(dict.fromkeys(meta["key_cols"] + meta["order_cols"]))
        event_time = meta["order_cols"][0]
        stream = stream.withWatermark(
            event_time, dedup_watermark
        ).dropDuplicatesWithinWatermark(ident)

    def sink(batch_df, batch_id: int):
        apply_changes(
            table, batch_df, epoch_id=batch_id, cfg=cfg, stream_id=sid,
            expectations=expectations, fail_on_violation=fail_on_violation,
        )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_change_rates(
    stream_df,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str | None = None,
    time_col: str = "ts",
    key: str = "conv_id",
    order_col: str = "lsn",
):
    """Watermarked windowed per-key change rates — the live metrics feed
    (reference analog: progress counters with shared state + lock,
    `pipeline_download_WMS_canada.py:59-90`, T7). Late events beyond the
    watermark are dropped from the aggregation, not from the table (the MERGE
    path above handles them by LWW).

    ``watermark`` defaults to the window length (state bounded to ~2 windows;
    pass a longer horizon to admit later events, matching the table's
    out-of-orderness budget) — it is never hardcoded."""
    win = (
        F.window(time_col, window, slide) if slide else F.window(time_col, window)
    )
    return (
        stream_df.withWatermark(time_col, watermark or window)
        .groupBy(win.alias("win"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(order_col).alias("max_lsn"),
        )
    )
