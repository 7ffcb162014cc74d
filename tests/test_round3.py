"""Round-3 regression tests: per-stream exactly-once watermarks, clone after
vacuum, optimistic-concurrency retries, rolled-file lineage aggregation,
export interop, stateful-cap truncation, graded-window class coverage."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import _bucket_lineage, apply_changes, replay
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes
from etl_geo_dem_spark.streaming.ingest import start_cdc_ingest


def _mk_table(spark, warehouse, name="t", n_buckets=8):
    return LakeTable.create(
        spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=n_buckets
    )


# --------------------------------------------------------------- stream watermark


def test_fresh_checkpoint_stream_applies_after_batch_bootstrap(spark, warehouse, tmp_path):
    """A table bootstrapped by BATCH replay to epoch 9 must still apply a new
    stream's micro-batches 0..2 (their ids restart at 0 with a fresh
    checkpoint): the exactly-once skip keys on the per-stream watermark, not
    the global batch epoch. This was a silent-data-loss bug."""
    table = _mk_table(spark, warehouse)
    boot = generate_changes(spark, 600, n_conv=20, n_epochs=2)
    replay(table, boot)
    # push the global batch watermark well past the stream's batch ids
    bump = boot.limit(1).withColumn("epoch", F.lit(9))
    apply_changes(table, bump, 9)
    assert table.last_epoch() == 9

    src = str(tmp_path / "incoming")
    streamed = generate_changes(spark, 300, n_conv=10, n_epochs=3).withColumn(
        "conv_id", F.concat(F.lit("s_"), F.col("conv_id"))
    )
    for e in range(3):
        streamed.filter(F.col("epoch") == e).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"seg_{e}"))

    ckpt = str(tmp_path / "fresh_ckpt")
    q = start_cdc_ingest(
        spark, table, src + "/*/", CHANGE_SCHEMA, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    sid = os.path.realpath(ckpt)
    assert table.last_stream_epoch(sid) == 2  # all 3 micro-batches committed
    assert table.last_epoch() == 9  # global batch watermark untouched
    streamed_keys = table.read_public().filter(F.col("conv_id").startswith("s_")).count()
    assert streamed_keys > 0

    # restart from the SAME checkpoint: nothing re-applied (no new snapshot)
    v = table.current_version()
    q2 = start_cdc_ingest(
        spark, table, src + "/*/", CHANGE_SCHEMA, ckpt, max_files_per_trigger=1
    )
    q2.awaitTermination(120)
    assert table.current_version() == v


def test_stream_redelivered_batch_id_skips_on_metadata(spark, warehouse):
    """foreachBatch retry semantics: re-delivering an already-committed
    micro-batch id for the SAME stream is a metadata no-op, while a different
    stream reusing the id still applies."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 400, n_conv=10, n_epochs=1)
    m1 = apply_changes(table, ch, 0, stream_id="stream_A")
    assert m1["status"] == "committed"
    m2 = apply_changes(table, ch, 0, stream_id="stream_A")
    assert m2["status"] == "skipped" and m2["stream_id"] == "stream_A"
    m3 = apply_changes(table, ch, 0, stream_id="stream_B")
    assert m3["status"] == "committed"  # independent watermark per stream
    assert table.last_stream_epoch("stream_A") == 0
    assert table.last_stream_epoch("stream_B") == 0
    assert table.last_epoch() == -1  # stream commits never advance the batch epoch


def test_maintenance_commits_preserve_stream_watermarks(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 400, n_conv=10, n_epochs=1)
    apply_changes(table, ch, 0, stream_id="s1", cfg=EngineConfig(merge_mode="mor"))
    table.compact()
    table.expire_tombstones(below_lsn=0)
    assert table.last_stream_epoch("s1") == 0  # carried through both rewrites


# --------------------------------------------------------------- clone post-vacuum


def test_clone_after_vacuum_skips_expired_snapshots(spark, warehouse):
    """vacuum(keep_versions=1) reclaims data files of expired snapshots but
    keeps their snapshot JSONs; clone() must skip those instead of crashing on
    a missing file, and ship a replica that serves the retained state."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 900, n_conv=30, n_epochs=3)
    replay(table, ch)
    table.compact()
    removed = table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert removed  # expired generations physically gone
    replica = table.clone(os.path.join(warehouse, "replica"))
    src_pd = table.read_public().orderBy("conv_id", "turn_idx").toPandas()
    dst_pd = replica.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert src_pd.equals(dst_pd) and len(src_pd) > 0
    # expired snapshots are absent from the replica, the retained one present
    assert replica.current_version() == table.current_version()
    with pytest.raises(FileNotFoundError):
        replica.snapshot(2)  # expired on the source, skipped by the clone


def test_clone_failure_leaves_no_partial_destination(spark, warehouse):
    """A clone that cannot complete (current version's data vacuumed away by
    corruption) must remove the half-built destination, not leave a
    pointer-less tree."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 400, n_conv=10, n_epochs=1)
    replay(table, ch)
    victim = table.snapshot()["files"][0]["path"]
    os.remove(victim)  # simulate corruption of the CURRENT snapshot
    dest = os.path.join(warehouse, "broken_replica")
    with pytest.raises(FileNotFoundError):
        table.clone(dest)
    assert not os.path.exists(dest)


# ------------------------------------------------------------------ lineage


def test_bucket_lineage_aggregates_rolled_files():
    files = [
        {"bucket": 3, "rows": 10, "bytes": 100, "path": "a", "kind": "base"},
        {"bucket": 3, "rows": 5, "bytes": 50, "path": "b", "kind": "base"},
        {"bucket": 1, "rows": 7, "bytes": 70, "path": "c", "kind": "base"},
    ]
    lin = _bucket_lineage(files)
    assert lin["3"] == {"rows": 15, "bytes": 150, "files": 2, "paths": ["a", "b"]}
    assert lin["1"]["rows"] == 7 and lin["1"]["files"] == 1


def test_epoch_lineage_exact_when_bucket_rolls_files(spark, warehouse, monkeypatch):
    """End-to-end: a hot bucket that rolls multiple files in one epoch reports
    the SUM of its rows in the manifest lineage (previously the last file
    silently overwrote the others)."""
    table = _mk_table(spark, warehouse, n_buckets=2)
    ch = generate_changes(spark, 2000, n_conv=30, n_epochs=1)
    monkeypatch.setattr(LakeTable, "TARGET_FILE_ROWS", 50)
    m = apply_changes(table, ch, 0)
    total_lineage_rows = sum(v["rows"] for v in m["lineage"].values())
    assert total_lineage_rows == m["state_rows_touched_buckets"]
    assert any(v["files"] > 1 for v in m["lineage"].values())  # a bucket rolled


# ------------------------------------------------- optimistic concurrency retry


def test_concurrent_apply_and_compact_both_commit(spark, warehouse, monkeypatch):
    """A compact() committing BETWEEN apply_changes' snapshot read and its
    commit forces a CommitConflict; the retry re-derives from the new snapshot
    and both writers' effects land — no rows lost, no manual intervention."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 800, n_conv=20, n_epochs=2)
    batches = {e: ch.filter(F.col("epoch") == e) for e in (0, 1)}
    apply_changes(table, batches[0], 0)

    interloper = LakeTable.load(spark, table.path)
    real_commit = LakeTable.commit
    fired = {"done": False}

    def racing_commit(self, files=None, summary=None, **kw):
        if not fired["done"] and summary.get("operation") == "merge":
            fired["done"] = True
            interloper.compact()  # commits first → our expected_parent is stale
        return real_commit(self, files, summary, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    m = apply_changes(table, batches[1], 1)
    monkeypatch.undo()
    assert fired["done"] and m["status"] == "committed"

    # ground truth: same two epochs applied sequentially, no race
    ref = _mk_table(spark, warehouse, name="ref")
    apply_changes(ref, batches[0], 0)
    apply_changes(ref, batches[1], 1)
    got = table.read_public().orderBy("conv_id", "turn_idx").toPandas()
    exp = ref.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert got.equals(exp) and len(got) > 0
    # history shows both commits: ... epoch0, compact, retried merge
    ops = [s["summary"]["operation"] for s in table.history()]
    assert ops[-2:] == ["compact", "merge"]


def test_compact_retries_after_conflicting_merge(spark, warehouse, monkeypatch):
    """The symmetric race: an apply_changes lands between compact()'s snapshot
    read and its commit; compact retries from the new snapshot and the merged
    epoch's rows survive the fold."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 800, n_conv=20, n_epochs=2)
    batches = {e: ch.filter(F.col("epoch") == e) for e in (0, 1)}
    apply_changes(table, batches[0], 0, cfg=EngineConfig(merge_mode="mor"))

    interloper = LakeTable.load(spark, table.path)
    real_commit = LakeTable.commit
    fired = {"done": False}

    def racing_commit(self, files=None, summary=None, **kw):
        if not fired["done"] and summary.get("operation") == "compact":
            fired["done"] = True
            apply_changes(interloper, batches[1], 1, cfg=EngineConfig(merge_mode="mor"))
        return real_commit(self, files, summary, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    table.compact()
    monkeypatch.undo()
    assert fired["done"]

    ref = _mk_table(spark, warehouse, name="ref")
    apply_changes(ref, batches[0], 0)
    apply_changes(ref, batches[1], 1)
    got = table.read_public().orderBy("conv_id", "turn_idx").toPandas()
    exp = ref.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert got.equals(exp) and len(got) > 0


# ------------------------------------------------------------------- export


def test_export_parquet_roundtrip(spark, warehouse, tmp_path):
    """export → plain spark.read.parquet equals read_public(); the manifest
    records exact row count, schema and source snapshot version."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 900, n_conv=30, n_epochs=2)
    replay(table, ch)
    dest = str(tmp_path / "export")
    manifest = table.export_parquet(dest)
    plain = spark.read.parquet(dest).orderBy("conv_id", "turn_idx").toPandas()
    pub = table.read_public().orderBy("conv_id", "turn_idx").toPandas()
    assert plain.equals(pub) and len(plain) > 0
    assert manifest["rows"] == len(pub)
    assert manifest["source_snapshot_version"] == table.current_version()
    with open(os.path.join(dest, "_export_manifest.json")) as f:
        on_disk = json.load(f)
    assert on_disk["rows"] == manifest["rows"]
    # internal columns must not leak into the interop surface
    assert "lsn" not in plain.columns and "_deleted" not in plain.columns


# -------------------------------------------------------------- stateful cap


def test_stateful_cap_truncates_after_update(monkeypatch):
    """The distinct-turn set merges the WHOLE batch first and truncates after:
    it can neither overshoot the cap in stored state nor freeze below the cap
    while new distinct turns arrive."""
    import pandas as pd

    from etl_geo_dem_spark.streaming import stateful

    class FakeState:
        exists = False
        _v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    monkeypatch.setattr(stateful, "MAX_TRACKED_TURNS", 8)
    st = FakeState()
    pdf = pd.DataFrame({"turn_idx": list(range(20)), "lsn": list(range(20))})
    out = list(stateful._update(("c1",), iter([pdf]), st))
    assert out[0]["turns_seen"].iloc[0] == 8  # capped, not 20
    assert st._v[0] == list(range(8))  # deterministic truncation (smallest kept)
    # new distinct turns below the cap's keep-set still enter after saturation
    pdf2 = pd.DataFrame({"turn_idx": [-3, 100], "lsn": [21, 22]})
    list(stateful._update(("c1",), iter([pdf2]), st))
    assert st._v[0] == [-3] + list(range(7))  # merged then re-truncated
    assert len(st._v[0]) == 8


# ------------------------------------------------------- change data feed


def _ev(op, conv, ts_s, lsn, epoch, text=None):
    t0 = datetime.datetime(2024, 1, 1)
    return (op, conv, 0, None if op == "D" else "user",
            text if op != "D" else None, None,
            t0 + datetime.timedelta(seconds=ts_s), lsn, epoch)


def test_table_changes_classifies_insert_update_delete(spark, warehouse):
    """CDF between two snapshots tags exactly the keys whose visible state
    moved: insert / update_postimage / delete; unchanged keys in touched
    buckets are silent."""
    table = _mk_table(spark, warehouse, n_buckets=4)
    e0 = spark.createDataFrame(
        [_ev("I", "keep", 1, 1, 0, "same"), _ev("I", "upd", 2, 2, 0, "v1"),
         _ev("I", "dead", 3, 3, 0, "alive")],
        CHANGE_SCHEMA,
    )
    apply_changes(table, e0, 0)
    v_before = table.current_version()
    e1 = spark.createDataFrame(
        [_ev("U", "upd", 10, 10, 1, "v2"), _ev("I", "new", 11, 11, 1, "born"),
         _ev("D", "dead", 12, 12, 1)],
        CHANGE_SCHEMA,
    )
    apply_changes(table, e1, 1)

    cdf = {r["conv_id"]: r for r in table.table_changes(v_before).collect()}
    assert set(cdf) == {"upd", "new", "dead"}  # "keep" is silent
    assert cdf["new"]["_change_type"] == "insert" and cdf["new"]["text"] == "born"
    assert cdf["upd"]["_change_type"] == "update_postimage" and cdf["upd"]["text"] == "v2"
    assert cdf["dead"]["_change_type"] == "delete"
    assert "_deleted" not in table.table_changes(v_before).columns


def test_table_changes_pure_compaction_is_silent(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 600, n_conv=20, n_epochs=1)
    apply_changes(table, ch, 0, cfg=EngineConfig(merge_mode="mor"))
    v = table.current_version()
    table.compact()  # files rewritten, logical state identical
    assert table.table_changes(v).count() == 0


def test_table_changes_spans_schema_evolution(spark, warehouse):
    """A CDF range that crosses an additive schema evolution reads the old
    state null-filled and reports post-evolution columns."""
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 900, n_conv=30, n_epochs=3, evolve_from_epoch=2)
    from etl_geo_dem_spark.sources.changes import epoch_batches

    batches = dict(epoch_batches(ch, evolve_from_epoch=2))
    apply_changes(table, batches[0], 0)
    v0 = table.current_version()
    apply_changes(table, batches[1], 1)
    apply_changes(table, batches[2], 2)  # evolves schema (tool_args)
    cdf = table.table_changes(v0)
    assert "tool_args" in cdf.columns
    assert cdf.count() > 0
    assert set(r["_change_type"] for r in cdf.collect()) <= {
        "insert", "update_postimage", "delete"
    }


def test_time_travel_as_of_timestamp(spark, warehouse):
    """TIMESTAMP AS OF: version_as_of resolves the newest snapshot at or
    before an instant; reading it reproduces that state exactly."""
    import time as _time

    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 600, n_conv=20, n_epochs=2)
    from etl_geo_dem_spark.sources.changes import epoch_batches

    batches = dict(epoch_batches(ch))
    apply_changes(table, batches[0], 0)
    v1 = table.current_version()
    t_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    apply_changes(table, batches[1], 1)
    assert table.version_as_of(t_between) == v1
    assert table.version_as_of(int(_time.time() * 1000)) == table.current_version()
    asof = table.read_public(version=table.version_as_of(t_between))
    assert asof.count() == table.read_public(version=v1).count()
    with pytest.raises(ValueError):
        table.version_as_of(0)  # before table creation


def test_metadata_tables(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 600, n_conv=20, n_epochs=2)
    replay(table, ch)
    hist = table.history_df().orderBy("version").collect()
    assert [r["version"] for r in hist] == [1, 2, 3]
    assert hist[-1]["operation"] == "merge" and hist[-1]["epoch_id"] == 1
    files = table.files_df()
    snap_files = table.snapshot()["files"]
    assert files.count() == len(snap_files)
    assert files.agg(F.sum("rows")).collect()[0][0] == sum(f["rows"] for f in snap_files)


# ------------------------------------------------- ngram verify join strategy


def test_ngram_verify_shuffle_path_identical_and_sortmergejoin(spark, monkeypatch):
    """Past the broadcast budget the exact-verify step must run as a shuffle
    SortMergeJoin on doc_id with IDENTICAL output (the 100 TB plan); below it,
    the broadcast fast path."""
    from etl_geo_dem_spark.queries import textops

    sf = "/root/testdata/sf0.001"
    fast = textops.dedup_ngram_jaccard_pairs(spark, sf)
    assert "BroadcastHashJoin" in fast._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(textops, "_BROADCAST_VERIFY_MAX_DOCS", 0)
    scale = textops.dedup_ngram_jaccard_pairs(spark, sf)
    plan = scale._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan

    f = fast.orderBy("doc_a", "doc_b").toPandas()
    s = scale.orderBy("doc_a", "doc_b").toPandas()
    assert f.equals(s) and len(f) > 0


# ------------------------------------------------------- graded-window hygiene


def test_graded_window_covers_every_survey_class():
    """Beyond the 50-primary-count guard: every SURVEY §2 operator family and
    every LLM-pipeline capability must keep at least one representative INSIDE
    the driver's graded window, so a future rename can't silently push a class
    proof out of grading."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as m
    from etl_geo_dem_spark.queries.registry import REGISTRY

    primary = [n for n in sorted(m.queries()) if not n.startswith("zz_")][:50]
    tags = set()
    for n in primary:
        tags.update(REGISTRY[n].tags)
    # SURVEY §2 ID families provable as queries (S* sources are engine paths
    # proven by pytest, not SQL-oracle queries)
    for family in "AFJOPTUWX":
        assert any(
            t[:1] == family and t[1:].isdigit() for t in tags
        ), f"SURVEY §2 family {family} has no graded in-window query"
    # LLM-pipeline + engine capability classes
    for cap in (
        "cdc", "dedup", "vector", "text", "multimodal", "streaming",
        "window", "join", "agg", "filter", "setop", "scalar", "sort",
        "graph", "udf", "minhash", "simhash", "jaccard", "lsh",
    ):
        assert cap in tags, f"capability {cap!r} has no graded in-window query"
