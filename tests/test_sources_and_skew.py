"""Manifest-source restart semantics + pathological-skew robustness."""

import os

from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.operators.lww import lww_winners, lww_winners_salted_window
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import replay
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes
from etl_geo_dem_spark.sources.manifest import ingest_manifest, unapplied_paths


def test_manifest_ingest_resumes_after_restart(spark, warehouse, tmp_path):
    ch = generate_changes(spark, 900, n_conv=30, n_epochs=3)
    paths = []
    for e in range(3):
        p = str(tmp_path / f"chunk_{e}.parquet")
        ch.filter(F.col("epoch") == e).drop("epoch").withColumn(
            "epoch", F.lit(e)
        ).coalesce(1).write.mode("overwrite").parquet(p)
        paths.append(p)
    manifest = str(tmp_path / "MANIFEST.txt")
    with open(manifest, "w") as f:
        f.write("# change files\n" + "\n".join(paths[:2]) + "\n")

    table = LakeTable.create(spark, os.path.join(warehouse, "m"), STATE_SCHEMA, n_buckets=8)
    ms = ingest_manifest(spark, table, manifest, CHANGE_SCHEMA)
    assert [m["status"] for m in ms] == ["committed", "committed"]
    # restart with the same manifest: nothing to do
    assert unapplied_paths(table, manifest) == []
    assert ingest_manifest(spark, table, manifest, CHANGE_SCHEMA) == []
    # manifest grows by one entry → exactly one new epoch
    with open(manifest, "a") as f:
        f.write(paths[2] + "\n")
    ms2 = ingest_manifest(spark, table, manifest, CHANGE_SCHEMA)
    assert len(ms2) == 1 and ms2[0]["status"] == "committed"
    # final state equals a straight replay of all three chunks
    t2 = LakeTable.create(spark, os.path.join(warehouse, "m2"), STATE_SCHEMA, n_buckets=8)
    replay(t2, ch)
    a = table.read_public().orderBy("conv_id", "turn_idx").toPandas()
    b = t2.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert a["text"].fillna("∅").tolist() == b["text"].fillna("∅").tolist()


def _one_giant_key(spark, n=4000):
    """50% of all events on a single conv_id — the worst-case hot key."""
    base = generate_changes(spark, n // 2, n_conv=50, n_epochs=1)
    hot = (
        generate_changes(spark, n // 2, n_conv=50, n_epochs=1)
        .withColumn("conv_id", F.lit("conv_hotspot"))
        .withColumn("lsn", F.col("lsn") + n)
    )
    return base.unionByName(hot)


def test_all_strategies_agree_under_pathological_skew(spark):
    ch = _one_giant_key(spark)
    frames = {
        "agg": lww_winners(ch, strategy="agg"),
        "window": lww_winners(ch, strategy="window"),
        "salted": lww_winners_salted_window(ch),
    }
    outs = {
        k: df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "lsn", "text")
        .toPandas()
        for k, df in frames.items()
    }
    assert outs["agg"].equals(outs["window"])
    assert outs["agg"].equals(outs["salted"])


def test_replay_one_giant_key_mor_agg_window_and_cow_agree(spark, warehouse):
    """Engine-level coverage under one hot key: the fused MOR ``agg`` plan
    (skew granularity = storage bucket), the ``window`` escape and the COW
    apply reach the same final state."""
    ch = _one_giant_key(spark).withColumn("epoch", F.lit(0))
    cfgs = {
        "mor_agg": EngineConfig(merge_mode="mor"),
        "mor_window": EngineConfig(merge_mode="mor", dedup_strategy="window"),
        "cow_agg": EngineConfig(merge_mode="cow"),
    }
    states = {}
    for name, cfg in cfgs.items():
        t = LakeTable.create(spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8)
        replay(t, ch, cfg)
        states[name] = t.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert states["mor_agg"].equals(states["mor_window"])
    assert states["mor_agg"].equals(states["cow_agg"])
    assert (states["mor_agg"]["conv_id"] == "conv_hotspot").sum() > 0


def test_debezium_envelope_adapter(spark, warehouse, tmp_path):
    """Debezium c/u/d/r envelopes normalize to CHANGE shape and replay
    correctly (delete keyed from the before-image; r treated as insert)."""
    import json as _json

    from etl_geo_dem_spark.sources.debezium import read_debezium_json

    events = [
        {"op": "r", "ts_ms": 1000, "before": None,
         "after": {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "snap", "tool": None},
         "source": {"lsn": 1, "db": "d", "table": "t"}},
        {"op": "c", "ts_ms": 2000, "before": None,
         "after": {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "v1", "tool": None},
         "source": {"lsn": 2, "db": "d", "table": "t"}},
        {"op": "u", "ts_ms": 3000, "before": None,
         "after": {"conv_id": "c1", "turn_idx": 1, "role": "assistant", "text": "v2", "tool": None},
         "source": {"lsn": 3, "db": "d", "table": "t"}},
        {"op": "d", "ts_ms": 4000,
         "before": {"conv_id": "c1", "turn_idx": 0, "role": None, "text": None, "tool": None},
         "after": None, "source": {"lsn": 4, "db": "d", "table": "t"}},
    ]
    p = tmp_path / "dbz.jsonl"
    p.write_text("\n".join(_json.dumps(e) for e in events))

    changes = read_debezium_json(spark, str(p), epoch=0)
    table = LakeTable.create(spark, os.path.join(warehouse, "dbz"), STATE_SCHEMA, n_buckets=4)
    from etl_geo_dem_spark.plans.merge import apply_changes

    apply_changes(table, changes, 0)
    rows = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read_public().collect()}
    assert rows == {("c1", 1): "v2"}  # turn 0 deleted, turn 1 updated


def test_kafka_shaped_debezium_adapter(spark, warehouse):
    """Kafka-shaped rows (the public format("kafka") contract: binary key/value
    + topic/partition/offset/timestamp) decode through the Debezium envelope to
    CHANGE rows; log-compaction tombstones (null value) and undecodable
    payloads drop out; lineage columns pass through when requested."""
    import datetime as _dt
    import json as _json

    from pyspark.sql import types as T

    from etl_geo_dem_spark.plans.merge import apply_changes
    from etl_geo_dem_spark.sources.kafka import from_kafka_debezium

    def env(op, turn, text, ts_ms, lsn):
        img = {"conv_id": "k1", "turn_idx": turn, "role": "user", "text": text, "tool": None}
        return _json.dumps({
            "op": op, "ts_ms": ts_ms,
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"lsn": lsn, "db": "d", "table": "t"},
        }).encode()

    kafka_schema = T.StructType([
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ])
    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (b"k1", env("c", 0, "v1", 1000, 1), "cdc.t", 0, 100, t0, 0),
        (b"k1", env("u", 0, "v2", 2000, 2), "cdc.t", 0, 101, t0, 0),
        (b"k1", env("c", 1, "gone", 3000, 3), "cdc.t", 1, 50, t0, 0),
        (b"k1", env("d", 1, None, 4000, 4), "cdc.t", 1, 51, t0, 0),
        (b"k1", None, "cdc.t", 1, 52, t0, 0),            # compaction tombstone
        (b"k1", b"{not json", "cdc.t", 1, 53, t0, 0),    # poison pill
    ]
    kdf = spark.createDataFrame(rows, kafka_schema)

    changes = from_kafka_debezium(kdf, epoch=0)
    assert changes.count() == 4  # tombstone + poison dropped
    table = LakeTable.create(spark, os.path.join(warehouse, "kfk"), STATE_SCHEMA, n_buckets=4)
    apply_changes(table, changes, 0)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in table.read_public().collect()}
    assert got == {("k1", 0): "v2"}  # turn 1 deleted, turn 0 updated

    lineage = from_kafka_debezium(kdf, epoch=0, keep_lineage=True)
    assert {"_src_topic", "_src_partition", "_src_offset"} <= set(lineage.columns)
    offs = {r["_src_offset"] for r in lineage.collect()}
    assert offs == {100, 101, 50, 51}


def test_manifest_grouped_ingest_parallel_fetch_and_resume(spark, warehouse, tmp_path):
    """files_per_epoch > 1 (S5 parallel partitioned fetch): a group of files
    loads through ONE multi-path read and commits as one epoch; restart skips
    whole committed groups and finishes the tail; final state equals the
    one-file-per-epoch ingest of the same manifest."""
    from etl_geo_dem_spark.sources.manifest import applied_paths, ingest_manifest

    ch = generate_changes(spark, 1500, n_conv=40, n_epochs=5, evolve_from_epoch=None)
    paths = []
    for e in range(5):
        p = str(tmp_path / f"c{e}.parquet")
        ch.filter(F.col("epoch") == e).coalesce(1).write.parquet(p)
        paths.append(p)
    mf = tmp_path / "m.txt"
    mf.write_text("\n".join(paths) + "\n")

    grouped = LakeTable.create(spark, os.path.join(warehouse, "grp"), STATE_SCHEMA, n_buckets=4)
    out = ingest_manifest(spark, grouped, str(mf), CHANGE_SCHEMA, files_per_epoch=2)
    assert [m["status"] for m in out] == ["committed"] * 3  # 2+2+1 files
    assert applied_paths(grouped) == set(paths)
    assert out[0]["source_paths"] == paths[:2]

    # restart: nothing left to do
    assert ingest_manifest(spark, grouped, str(mf), CHANGE_SCHEMA, files_per_epoch=2) == []

    serial = LakeTable.create(spark, os.path.join(warehouse, "ser"), STATE_SCHEMA, n_buckets=4)
    ingest_manifest(spark, serial, str(mf), CHANGE_SCHEMA)
    a = grouped.read_public().orderBy("conv_id", "turn_idx").toPandas()
    b = serial.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert a.equals(b)
