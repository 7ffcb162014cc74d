"""Structured Streaming ingest tests: exactly-once via checkpoint + epoch
watermark, restart/resume, watermarked windowed aggregation, custom stateful
operator."""

import os

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes
from etl_geo_dem_spark.streaming.ingest import start_cdc_ingest, windowed_change_rates
from etl_geo_dem_spark.streaming.stateful import running_conversation_state


def _write_change_files(spark, out_dir, n=1200, n_epochs=3):
    ch = generate_changes(spark, n, n_conv=40, n_epochs=n_epochs)
    for e in range(n_epochs):
        (
            ch.filter(F.col("epoch") == e)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_{e}"))
        )
    return ch


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_stream_ingest_matches_batch_replay(spark, warehouse, tmp_path, merge_mode):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    ch = _write_change_files(spark, src)

    stable = LakeTable.create(spark, os.path.join(warehouse, "stream_t"), STATE_SCHEMA, n_buckets=8)
    q = start_cdc_ingest(
        spark, stable, src + "/*/", CHANGE_SCHEMA, ckpt,
        EngineConfig(merge_mode=merge_mode), max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert len(stable.read_epoch_manifests()) == 3  # one per micro-batch

    btable = LakeTable.create(spark, os.path.join(warehouse, "batch_t"), STATE_SCHEMA, n_buckets=8)
    apply_changes(btable, ch, 0)

    got = stable.read_public().orderBy("conv_id", "turn_idx").toPandas()
    exp = btable.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert len(got) > 0
    for col in ["conv_id", "turn_idx", "text", "ts"]:
        assert got[col].fillna("∅").tolist() == exp[col].fillna("∅").tolist(), col


def test_stream_restart_is_noop_then_consumes_new_files(spark, warehouse, tmp_path):
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    _write_change_files(spark, src, n=800, n_epochs=2)

    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=8)
    q = start_cdc_ingest(spark, table, src + "/*/", CHANGE_SCHEMA, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    v1, rows1 = table.current_version(), table.read_public().count()

    # restart with the same checkpoint and no new files → nothing re-applied
    q2 = start_cdc_ingest(spark, table, src + "/*/", CHANGE_SCHEMA, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert table.current_version() == v1
    assert table.read_public().count() == rows1

    # a late file with a NEWER event updates exactly one key
    import datetime

    late = spark.createDataFrame(
        [("U", "conv_000001", 1, "user", "late-wins", None,
          datetime.datetime(2031, 1, 1), 10**12, 99)],
        CHANGE_SCHEMA,
    )
    late.coalesce(1).write.mode("overwrite").parquet(src + "/batch_late")
    q3 = start_cdc_ingest(spark, table, src + "/*/", CHANGE_SCHEMA, ckpt, max_files_per_trigger=1)
    q3.awaitTermination(120)
    row = table.read_public().filter("conv_id='conv_000001' AND turn_idx=1").collect()
    assert len(row) == 1 and row[0]["text"] == "late-wins"


def test_stream_windowed_rates(spark, tmp_path):
    src = str(tmp_path / "incoming")
    _write_change_files(spark, src, n=600, n_epochs=1)
    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(src + "/*/")
    agg = windowed_change_rates(stream, window="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rates")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; with availableNow the
    # final watermark closes all but the newest window
    out = spark.sql("SELECT * FROM rates")
    assert {"win", "conv_id", "n_events", "max_lsn"} <= set(out.columns)


def test_stateful_running_conversation_state(spark, tmp_path):
    src = str(tmp_path / "incoming")
    ch = _write_change_files(spark, src, n=600, n_epochs=1)
    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(src + "/*/")
    q = (
        running_conversation_state(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("convstate")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM convstate").toPandas()
    assert len(out) > 0
    exp_max = ch.agg(F.max("lsn")).collect()[0][0]
    assert out["max_lsn"].max() == exp_max


def test_stream_dedup_watermark_preserves_final_state(spark, warehouse, tmp_path):
    """dropDuplicatesWithinWatermark pre-filter: a stream whose every segment
    is delivered TWICE (WAL re-read after reconnect) converges to the same
    final state with and without the stateful pre-dedup — the filter only cuts
    shuffle volume, the LWW MERGE already guarantees idempotence."""
    src = str(tmp_path / "incoming_dup")
    ch = generate_changes(spark, 800, n_conv=30, n_epochs=2)
    for e in range(2):
        seg = ch.filter(F.col("epoch") == e).coalesce(1)
        seg.write.mode("overwrite").parquet(os.path.join(src, f"seg_{e}"))
        seg.write.mode("overwrite").parquet(os.path.join(src, f"seg_{e}_redelivered"))

    tables = {}
    for tag, wm in (("plain", None), ("dedup", "2 hours")):
        t = LakeTable.create(
            spark, os.path.join(warehouse, f"wm_{tag}"), STATE_SCHEMA, n_buckets=8
        )
        q = start_cdc_ingest(
            spark, t, src + "/*/", CHANGE_SCHEMA,
            str(tmp_path / f"ckpt_{tag}"), max_files_per_trigger=1,
            dedup_watermark=wm,
        )
        q.awaitTermination(180)
        tables[tag] = t.read_public().orderBy("conv_id", "turn_idx").toPandas()

    assert len(tables["plain"]) > 0
    assert tables["plain"].equals(tables["dedup"])
