"""Core CDC engine tests — dual-oracle replay equality, idempotence, resume,
delete semantics, schema evolution, time travel (SURVEY.md §5 test plan)."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.operators.lww import lww_winners, lww_winners_salted_window
from etl_geo_dem_spark.oracle.replayer import replay_reference
from etl_geo_dem_spark.plans.lake_table import CommitConflict, LakeTable
from etl_geo_dem_spark.plans.merge import SchemaEvolutionError, apply_changes, evolve_schema, replay
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA, TRANSCRIPT_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

EVOLVE_FROM = 3


def _mk_table(spark, warehouse, name="transcripts", n_buckets=8):
    return LakeTable.create(
        spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=n_buckets
    )


def _changes(spark, n=2000, **kw):
    kw.setdefault("n_conv", 60)
    kw.setdefault("n_epochs", 5)
    kw.setdefault("evolve_from_epoch", EVOLVE_FROM)
    return generate_changes(spark, n, **kw)


def _final_state_pd(table):
    df = table.read_public().orderBy("conv_id", "turn_idx")
    return df.toPandas()


def _oracle_pd(changes_df):
    events = [r.asDict() for r in changes_df.collect()]
    import pandas as pd

    rows = replay_reference(events)
    return pd.DataFrame(rows)


def test_lww_strategies_agree(spark):
    ch = _changes(spark, 3000)
    frames = {
        "agg": lww_winners(ch, strategy="agg"),
        "window": lww_winners(ch, strategy="window"),
        "salted": lww_winners_salted_window(ch),
    }
    outs = {
        k: df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "ts", "lsn", "op", "text")
        .toPandas()
        for k, df in frames.items()
    }
    assert outs["agg"].equals(outs["window"])
    assert outs["agg"].equals(outs["salted"])


def test_replay_matches_reference_oracle(spark, warehouse):
    """The flagship dual-oracle check: distributed MERGE replay == Python fold,
    per-turn text equality under stable (conv_id, turn_idx) ordering."""
    ch = _changes(spark, 4000)
    table = _mk_table(spark, warehouse)
    for e, batch in epoch_batches(ch, evolve_from_epoch=EVOLVE_FROM):
        apply_changes(table, batch, e)

    got = _final_state_pd(table)
    exp = _oracle_pd(ch)
    exp = exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp) > 0
    for col in ["conv_id", "turn_idx", "role", "text", "tool", "tool_args"]:
        assert got[col].fillna("∅").tolist() == exp[col].fillna("∅").tolist(), col
    assert got["ts"].tolist() == exp["ts"].tolist()


@pytest.mark.parametrize("strategy", ["agg", "window"])
def test_replay_strategies_match_oracle(spark, warehouse, strategy):
    ch = _changes(spark, 1500, n_epochs=3, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse, name=f"t_{strategy}")
    cfg = EngineConfig(dedup_strategy=strategy)
    replay(table, ch, cfg)
    got = _final_state_pd(table)
    exp = _oracle_pd(ch).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["text"].fillna("∅").tolist() == exp["text"].fillna("∅").tolist()


def test_epoch_reapply_is_skipped_and_forced_reapply_is_noop(spark, warehouse):
    ch = _changes(spark, 1200, n_epochs=3, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse)
    batches = dict(epoch_batches(ch))
    m0 = apply_changes(table, batches[0], 0)
    assert m0["status"] == "committed"
    # duplicate delivery of the same epoch: skipped on metadata alone
    m0b = apply_changes(table, batches[0], 0)
    assert m0b["status"] == "skipped"
    state_before = _final_state_pd(table)
    # forced re-apply (same events, new epoch id) converges to identical state:
    # LWW idempotence
    apply_changes(table, batches[0].withColumn("epoch", F.lit(1)), 1)
    state_after = _final_state_pd(table)
    assert state_before.equals(state_after)


def test_resume_mid_replay_equals_single_shot(spark, warehouse):
    """1-epoch vs k-epoch vs kill+resume consistency — the engine analog of the
    reference's representation-consistency tests (VRT == COG == AWS,
    /root/reference/tests/test_module.py:299-343)."""
    _check_resume_mid_replay(spark, warehouse, EngineConfig())


def test_resume_mid_replay_equals_single_shot_mor(spark, warehouse, apply_path):
    """The same consistency on merge-on-read, on each apply path."""
    _check_resume_mid_replay(spark, warehouse, EngineConfig(merge_mode="mor"))


def _check_resume_mid_replay(spark, warehouse, cfg):
    ch = _changes(spark, 2500)
    # path A: full replay in one process
    ta = _mk_table(spark, warehouse, name="a")
    for e, b in epoch_batches(ch, EVOLVE_FROM):
        apply_changes(ta, b, e, cfg)
    # path B: apply 2 epochs, "crash", reopen from disk, resume
    tb = _mk_table(spark, warehouse, name="b")
    batches = list(epoch_batches(ch, EVOLVE_FROM))
    for e, b in batches[:2]:
        apply_changes(tb, b, e, cfg)
    tb2 = LakeTable.load(spark, tb.path)  # fresh handle = restart
    assert tb2.last_epoch() == batches[1][0]
    for e, b in batches:  # replay from the START — committed epochs skip
        apply_changes(tb2, b, e, cfg)
    # path C: everything as ONE epoch
    tc = _mk_table(spark, warehouse, name="c")
    apply_changes(tc, ch.withColumn("epoch", F.lit(0)), 0, cfg)

    pa, pb, pc = _final_state_pd(ta), _final_state_pd(tb2), _final_state_pd(tc)
    assert pa.equals(pb)
    for col in ["conv_id", "turn_idx", "text", "ts"]:
        assert pa[col].fillna("∅").tolist() == pc[col].fillna("∅").tolist()


def test_delete_tombstone_blocks_resurrection(spark, warehouse):
    """An update OLDER than an applied delete must not resurrect the row —
    requires retained tombstones (SURVEY.md §7.4 hard part 2)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(op, ts_s, lsn, epoch, text=None):
        return (op, "c1", 0, None if op == "D" else "user",
                text if op != "D" else None, None,
                t0 + datetime.timedelta(seconds=ts_s), lsn, epoch)

    table = _mk_table(spark, warehouse)
    e0 = spark.createDataFrame([ev("I", 10, 1, 0, "v1"), ev("D", 30, 3, 0)], CHANGE_SCHEMA)
    apply_changes(table, e0, 0)
    assert table.read_public().count() == 0
    # late out-of-order update, older (ts,lsn) than the delete → must stay dead
    e1 = spark.createDataFrame([ev("U", 20, 2, 1, "v2-late")], CHANGE_SCHEMA)
    apply_changes(table, e1, 1)
    assert table.read_public().count() == 0
    # a genuinely NEWER insert does revive the key
    e2 = spark.createDataFrame([ev("I", 40, 4, 2, "v3-new")], CHANGE_SCHEMA)
    apply_changes(table, e2, 2)
    rows = table.read_public().collect()
    assert len(rows) == 1 and rows[0]["text"] == "v3-new"


def test_out_of_order_delete_loses_lww(spark, warehouse):
    t0 = datetime.datetime(2024, 1, 1)
    table = _mk_table(spark, warehouse)
    e0 = spark.createDataFrame(
        [("U", "c2", 5, "user", "keep-me", None, t0 + datetime.timedelta(seconds=50), 9, 0)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, e0, 0)
    # delete with OLDER (ts,lsn) arrives later → LWW no-op
    e1 = spark.createDataFrame(
        [("D", "c2", 5, None, None, None, t0 + datetime.timedelta(seconds=20), 4, 1)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, e1, 1)
    rows = table.read_public().collect()
    assert len(rows) == 1 and rows[0]["text"] == "keep-me"


def test_schema_evolution_additive(spark, warehouse):
    ch = _changes(spark, 2000)
    table = _mk_table(spark, warehouse)
    assert "tool_args" not in [f.name for f in table.schema().fields]
    for e, b in epoch_batches(ch, EVOLVE_FROM):
        apply_changes(table, b, e)
    fields = {f.name for f in table.schema().fields}
    assert "tool_args" in fields
    df = table.read_public()
    assert "tool_args" in df.columns
    # pre-evolution rows are null-filled, some post-evolution rows are populated
    assert df.filter(F.col("tool_args").isNotNull()).count() > 0


def test_schema_evolution_rejects_type_change(spark):
    from pyspark.sql import types as T

    bad = T.StructType(
        [f if f.name != "text" else T.StructField("text", T.IntegerType()) for f in CHANGE_SCHEMA.fields]
    )
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(STATE_SCHEMA, _dummy_df(bad))


def _dummy_df(schema):
    class _D:
        pass

    d = _D()
    d.schema = schema
    return d


def test_time_travel_and_history(spark, warehouse):
    ch = _changes(spark, 1500, n_epochs=3, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse)
    versions = []
    for e, b in epoch_batches(ch):
        apply_changes(table, b, e)
        versions.append(table.current_version())
    hist = table.history()
    assert [s["version"] for s in hist] == list(range(1, versions[-1] + 1))
    early = table.read_public(version=versions[0]).count()
    late = table.read_public().count()
    assert 0 < early <= late
    assert table.snapshot(versions[0])["summary"]["epoch_id"] == 0


def test_commit_conflict_optimistic_concurrency(spark, warehouse):
    table = _mk_table(spark, warehouse)
    snap = table.snapshot()
    # two committers race for version 2: the second must fail, not overwrite
    table.commit([], summary={"operation": "noop", "epoch_id": 0})
    with pytest.raises(CommitConflict):
        table._commit_snapshot({**snap, "version": 2})


def test_commit_without_epoch_keeps_the_batch_watermark(spark, warehouse):
    """A commit whose summary names no epoch carries the parent's batch
    watermark forward, like the stream watermarks: no summary at all must
    not break last_epoch(), and a summary without epoch_id must not reset
    it to -1 (which would re-apply committed epochs on replay)."""
    table = _mk_table(spark, warehouse)
    table.commit([], summary={"operation": "noop", "epoch_id": 5})
    table.commit([])
    assert table.last_epoch() == 5
    assert table.table_metrics()["last_epoch"] == 5
    table.commit([], summary={"operation": "noop"})
    assert table.last_epoch() == 5
    assert table.snapshot_meta()["summary"]["operation"] == "noop"


def test_bucket_pruning_copy_on_write(spark, warehouse):
    ch = _changes(spark, 2000, n_conv=200, n_epochs=4, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse, n_buckets=16)
    manifests = replay(table, ch)
    # a small batch touches a strict subset of buckets; untouched files carry over
    one_key = spark.createDataFrame(
        [("U", "conv_000001", 1, "user", "touch", None,
          datetime.datetime(2030, 1, 1), 10**9, 99)],
        CHANGE_SCHEMA,
    )
    before = {f["path"] for f in table.snapshot()["files"]}
    m = apply_changes(table, one_key, 99)
    assert m["n_touched"] == 1
    after = table.snapshot()["files"]
    carried = [f for f in after if f["path"] in before]
    assert len(carried) == len(before) - sum(1 for f in table.snapshot(table.current_version() - 1)["files"] if f["bucket"] in m["touched_buckets"])
    assert all(m2["status"] == "committed" for m2 in manifests)


def test_lineage_manifest_contents(spark, warehouse):
    ch = _changes(spark, 1000, n_epochs=2, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse)
    replay(table, ch)
    ms = table.read_epoch_manifests()
    assert len(ms) == 2
    for m in ms:
        assert m["input_events"] > 0
        assert m["lineage"] and all("rows" in v and "bytes" in v for v in m["lineage"].values())
        assert m["duration_sec"] > 0


def test_vacuum_and_compact(spark, warehouse):
    ch = _changes(spark, 1500, n_epochs=3, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse)
    replay(table, ch)
    before = _final_state_pd(table)
    table.compact()
    removed = table.vacuum(keep_versions=1)
    assert removed  # old generations physically gone
    after = _final_state_pd(table)
    assert before.equals(after)
    # one file per bucket after compaction
    files = table.snapshot()["files"]
    assert len(files) == len({f["bucket"] for f in files})


def test_public_schema_matches_input_hint(spark, warehouse):
    table = _mk_table(spark, warehouse)
    pub = table.read_public()
    assert [f.name for f in TRANSCRIPT_SCHEMA.fields] == pub.columns


def test_empty_batch_commits_noop_epoch(spark, warehouse):
    """Regression: an empty change batch must commit its epoch watermark
    without failing on missing Observation metrics."""
    table = _mk_table(spark, warehouse)
    empty = spark.createDataFrame([], CHANGE_SCHEMA)
    m = apply_changes(table, empty, 0)
    assert m["status"] == "committed" and m["n_touched"] == 0
    assert m["input_events"] == 0
    assert table.last_epoch() == 0
    assert apply_changes(table, empty, 0)["status"] == "skipped"


def test_expire_tombstones_respects_horizon(spark, warehouse):
    """Tombstone GC drops only markers below the out-of-orderness horizon;
    newer tombstones keep protecting against late resurrection."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(op, conv, ts_s, lsn, text=None):
        return (op, conv, 0, None if op == "D" else "user",
                text, None, t0 + datetime.timedelta(seconds=ts_s), lsn, 0)

    table = _mk_table(spark, warehouse)
    e0 = spark.createDataFrame(
        [ev("I", "old", 1, 1, "a"), ev("D", "old", 2, 2),
         ev("I", "new", 3, 100, "b"), ev("D", "new", 4, 101)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, e0, 0)
    assert table.read(include_deleted=True).filter("_deleted").count() == 2
    table.expire_tombstones(below_lsn=50)
    dead = table.read(include_deleted=True).filter("_deleted").collect()
    assert [r["conv_id"] for r in dead] == ["new"]  # old marker GC'd
    # a late event older than the SURVIVING tombstone still loses
    late = spark.createDataFrame([ev("U", "new", 3, 99, "zombie")], CHANGE_SCHEMA)
    apply_changes(table, late, 1)
    assert table.read_public().filter("conv_id='new'").count() == 0


def test_data_files_sorted_by_key_within_file(spark, warehouse):
    """Every committed data file is sorted by (key_cols, order_cols): tight
    per-row-group key stats (row-group pruning at scale), better compression
    (measured 12% on identical data), byte-deterministic replicas."""
    import pyarrow.parquet as pq

    ch = _changes(spark, 3000, n_conv=100, n_epochs=2, evolve_from_epoch=None)
    table = _mk_table(spark, warehouse, n_buckets=8)
    replay(table, ch)
    for f in table.snapshot()["files"]:
        t = pq.read_table(f["path"], columns=["conv_id", "turn_idx"]).to_pandas()
        assert t.sort_values(["conv_id", "turn_idx"], ignore_index=True).equals(
            t.reset_index(drop=True)
        ), f["path"]


def test_oversized_bucket_rolls_multiple_sorted_files(spark, warehouse, monkeypatch):
    """A bucket whose commit exceeds the per-file row cap splits into several
    files (the 100 TB file-sizing knob); reads stay exact and every rolled
    file is still key-sorted."""
    import pyarrow.parquet as pq

    from etl_geo_dem_spark.plans.lake_table import BUCKET_COL, bucket_expr

    table = _mk_table(spark, warehouse, n_buckets=4)
    ch = _changes(spark, 2000, n_conv=50, n_epochs=1, evolve_from_epoch=None)
    from etl_geo_dem_spark.operators.lww import lww_winners
    from etl_geo_dem_spark.plans.merge import _to_state_shape

    state = _to_state_shape(lww_winners(ch), table.schema()).withColumn(
        BUCKET_COL, bucket_expr("conv_id", 4)
    )
    monkeypatch.setattr(LakeTable, "TARGET_FILE_ROWS", 50)
    files = table.write_data_files(state, kind="base")
    per_bucket = {}
    for f in files:
        per_bucket.setdefault(f["bucket"], []).append(f)
    assert max(len(v) for v in per_bucket.values()) > 1  # a bucket rolled files
    table.commit(files, summary={"operation": "merge", "epoch_id": 0},
                 expected_parent=1)
    live = state.filter(~F.col("_deleted")).count()  # read_public drops tombstones
    assert table.read_public().count() == live
    for f in files:
        t = pq.read_table(f["path"], columns=["conv_id", "turn_idx"]).to_pandas()
        assert t.sort_values(["conv_id", "turn_idx"], ignore_index=True).equals(
            t.reset_index(drop=True)
        )
