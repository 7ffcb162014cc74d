"""Manifest-level file statistics + skipping, bucket-count evolution, rollback.

The stats path is the engine's Iceberg-manifest-stats analog: per-file min/max
for the key and order columns recorded from parquet footers at commit time,
consumed by LakeTable.read(stats_filters=...) / point_lookup() so a lookup
prunes snapshot -> bucket -> file(s) on metadata alone. rebucket() is
partition-spec evolution (the bucket count must follow table growth at 100 TB);
rollback() is Iceberg rollback_to_snapshot (history forward, data back).
"""

import os

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable, prune_files
from etl_geo_dem_spark.plans.merge import apply_changes, replay
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import generate_changes


def _mk_table(spark, warehouse, name="t", n_buckets=4):
    return LakeTable.create(
        spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=n_buckets
    )


def _sorted_pd(df):
    return df.orderBy("conv_id", "turn_idx").toPandas()


# ------------------------------------------------------------------ file stats


def test_file_stats_recorded_in_snapshot(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 1200, n_conv=40, n_epochs=1)
    replay(table, ch)
    files = table.snapshot()["files"]
    assert files
    for f in files:
        st = f["stats"]
        # key + order columns all covered
        for col in ("conv_id", "turn_idx", "ts", "lsn"):
            assert col in st, f"missing stats for {col}: {st}"
            assert st[col]["min"] <= st[col]["max"]
        assert isinstance(st["conv_id"]["min"], str)
        assert isinstance(st["ts"]["min"], int)  # epoch micros, not INT96


def test_point_lookup_prunes_to_subset_of_bucket_files(spark, warehouse, monkeypatch):
    # one bucket, tiny per-file row cap -> the writer rolls many key-sorted,
    # key-disjoint files; stats pruning must open only the file(s) covering
    # the looked-up key.
    table = _mk_table(spark, warehouse, n_buckets=1)
    ch = generate_changes(spark, 1500, n_conv=50, n_epochs=1)
    monkeypatch.setattr(LakeTable, "TARGET_FILE_ROWS", 100)
    apply_changes(table, ch, 0)
    files = table.snapshot()["files"]
    assert len(files) > 3, "row cap should have rolled several files"

    key = table.read_public().select("conv_id").first()[0]
    pruned = prune_files(files, {"conv_id": (key, key)})
    assert 0 < len(pruned) < len(files)

    got = _sorted_pd(table.point_lookup(key).select("conv_id", "turn_idx", "text"))
    want = _sorted_pd(
        table.read_public()
        .filter(F.col("conv_id") == key)
        .select("conv_id", "turn_idx", "text")
    )
    assert got.equals(want)


def test_point_lookup_correct_under_merge_on_read(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 2000, n_conv=30, n_epochs=4, dup_pct=30)
    replay(table, ch, EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))
    assert any(f.get("kind") == "delta" for f in table.snapshot()["files"])
    key = table.read_public().select("conv_id").first()[0]
    got = _sorted_pd(table.point_lookup(key))
    want = _sorted_pd(table.read(include_deleted=False).filter(F.col("conv_id") == key))
    assert got.equals(want)


def test_ts_stats_filter_guarded_then_works_after_compact(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 2000, n_conv=40, n_epochs=3)
    replay(table, ch, EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))

    lo = table.read_public().agg(F.min("ts")).first()[0]
    cnt = table.read_public().count()
    hi = (  # median-ish ts so the range filter actually excludes rows
        table.read_public().orderBy("ts").limit(cnt // 2).agg(F.max("ts")).first()[0]
    )
    with pytest.raises(ValueError, match="non-key columns"):
        table.read(stats_filters={"ts": (lo, None)})

    table.compact()
    got = _sorted_pd(table.read(stats_filters={"ts": (None, hi)}).drop("_deleted"))
    want = _sorted_pd(table.read().filter(F.col("ts") <= hi).drop("_deleted"))
    assert got.equals(want)


# -------------------------------------------------------------------- rebucket


def test_rebucket_preserves_state_and_future_merges(spark, warehouse):
    cha = generate_changes(spark, 2500, n_conv=60, n_epochs=3)
    chb = generate_changes(spark, 2500, n_conv=60, n_epochs=5).filter(
        F.col("epoch") >= 3
    )

    a = _mk_table(spark, warehouse, "evolved", n_buckets=4)
    replay(a, cha)
    before = _sorted_pd(a.read_public())
    a.rebucket(16)
    assert a.n_buckets() == 16
    assert _sorted_pd(a.read_public()).equals(before)
    assert {f["bucket"] for f in a.snapshot()["files"]} - set(range(16)) == set()
    replay(a, chb)  # merges derive bucketing from the evolved snapshot

    b = _mk_table(spark, warehouse, "control", n_buckets=4)
    replay(b, cha)
    replay(b, chb)
    assert _sorted_pd(a.read_public()).equals(_sorted_pd(b.read_public()))

    # point lookup still resolves through the evolved bucketing
    key = a.read_public().select("conv_id").first()[0]
    got = _sorted_pd(a.point_lookup(key).select("conv_id", "turn_idx", "text"))
    want = _sorted_pd(
        a.read_public().filter(F.col("conv_id") == key).select(
            "conv_id", "turn_idx", "text"
        )
    )
    assert got.equals(want)

    # time travel before the rebucket still prunes with the OLD bucket count
    pre = a.snapshot(a.current_version())
    hist = [s for s in a.history() if s["summary"].get("operation") == "rebucket"]
    v_before = hist[0]["parent"]
    assert int(a.snapshot(v_before)["n_buckets"]) == 4
    assert _sorted_pd(a.read_public(version=v_before)).equals(before)
    assert pre  # silence unused


# -------------------------------------------------------------------- rollback


def test_rollback_restores_state_and_watermark_then_replay_converges(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 3000, n_conv=50, n_epochs=5)
    replay(table, ch)
    final = _sorted_pd(table.read_public())
    v_final = table.current_version()

    # roll back to the snapshot that committed epoch 1
    target = next(
        s["version"] for s in table.history() if s["summary"].get("epoch_id") == 1
    )
    table.rollback(target)
    assert table.last_epoch() == 1
    assert _sorted_pd(table.read_public()).equals(
        _sorted_pd(table.read_public(version=target))
    )
    # rolled-past snapshot remains time-travelable (no files deleted)
    assert _sorted_pd(table.read_public(version=v_final)).equals(final)

    # the reverted watermark lets replay re-apply epochs 2..4 and converge
    replay(table, ch)
    assert table.last_epoch() == 4
    assert _sorted_pd(table.read_public()).equals(final)


def test_rollback_after_rebucket_restores_bucket_count(spark, warehouse):
    table = _mk_table(spark, warehouse, n_buckets=4)
    ch = generate_changes(spark, 1000, n_conv=30, n_epochs=1)
    replay(table, ch)
    v_old = table.current_version()
    table.rebucket(8)
    assert table.n_buckets() == 8
    table.rollback(v_old)
    assert table.n_buckets() == 4
    assert _sorted_pd(table.read_public()).equals(
        _sorted_pd(table.read_public(version=v_old))
    )


def test_rollback_to_vacuumed_version_raises(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 1000, n_conv=30, n_epochs=2)
    replay(table, ch)
    v1 = next(
        s["version"] for s in table.history() if s["summary"].get("epoch_id") == 0
    )
    table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        table.rollback(v1)


# ------------------------------------------------- widening schema evolution


def test_widening_evolution_int_to_long_and_float_to_double(spark, warehouse):
    from pyspark.sql import types as T

    table = _mk_table(spark, warehouse)
    base = generate_changes(spark, 800, n_conv=20, n_epochs=3)
    apply_changes(table, base.filter(F.col("epoch") == 0), 0)
    before = _sorted_pd(table.read_public().select("conv_id", "turn_idx", "text"))

    # epoch 1: turn_idx arrives as LONG (wider key type) + new float column
    b1 = (
        base.filter(F.col("epoch") == 1)
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .withColumn("score", F.col("lsn").cast("float"))
    )
    m1 = apply_changes(table, b1, 1)
    assert m1["schema_widened"] == ["turn_idx"]
    assert m1["schema_evolved"] == ["score"]
    types = {f.name: f.dataType for f in table.schema().fields}
    assert types["turn_idx"] == T.LongType()
    assert types["score"] == T.FloatType()

    # epoch 2: score arrives as DOUBLE (widen float->double), turn_idx back to
    # the NARROW int (old producer) — batch upcasts, schema unchanged
    b2 = (
        base.filter(F.col("epoch") == 2)
        .withColumn("score", (F.col("lsn") + 1).cast("double"))
    )
    m2 = apply_changes(table, b2, 2)
    assert m2["schema_widened"] == ["score"]
    types = {f.name: f.dataType for f in table.schema().fields}
    assert types["score"] == T.DoubleType()
    assert types["turn_idx"] == T.LongType()

    # pre-evolution narrow files still read correctly through the wide schema
    df = table.read_public()
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    got_keys = _sorted_pd(
        df.filter(F.col("score").isNull()).select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "text"
        )
    )
    # every epoch-0 key not overwritten later must survive byte-identical
    later = {
        (r["conv_id"], r["turn_idx"])
        for r in base.filter(F.col("epoch") >= 1).select("conv_id", "turn_idx").distinct().collect()
    }
    keep = before[
        ~before.apply(lambda r: (r["conv_id"], r["turn_idx"]) in later, axis=1)
    ].reset_index(drop=True)
    surviving = got_keys[
        ~got_keys.apply(lambda r: (r["conv_id"], r["turn_idx"]) in later, axis=1)
    ].reset_index(drop=True)
    assert surviving.equals(keep)


def test_widening_rejects_lossy_promotion(spark):
    from pyspark.sql import types as T

    from etl_geo_dem_spark.plans.merge import SchemaEvolutionError, evolve_schema
    from etl_geo_dem_spark.schemas import CHANGE_SCHEMA

    class _D:
        pass

    # long -> double loses precision; string -> int is nonsense: both refused
    for col, bad_t in [("lsn", T.DoubleType()), ("text", T.IntegerType())]:
        bad = T.StructType(
            [
                f if f.name != col else T.StructField(col, bad_t)
                for f in CHANGE_SCHEMA.fields
            ]
        )
        d = _D()
        d.schema = bad
        with pytest.raises(SchemaEvolutionError):
            evolve_schema(STATE_SCHEMA, d)


# --------------------------------------------------- clustered compaction


def test_compact_cluster_by_ts_makes_range_pruning_effective(spark, warehouse, monkeypatch):
    table = _mk_table(spark, warehouse, n_buckets=1)
    ch = generate_changes(spark, 3000, n_conv=80, n_epochs=2)
    replay(table, ch)
    # key-ordered files: ts ranges overlap, a ts filter prunes ~nothing
    table.compact(cluster_by=None)

    from etl_geo_dem_spark.plans.lake_table import LakeTable as LT

    table2 = LT.load(spark, table.path)
    # rewrite with a tight row cap so several files roll, clustered by ts
    df = table.read(include_deleted=True)
    from etl_geo_dem_spark.plans.lake_table import BUCKET_COL, bucket_expr

    monkeypatch.setattr(LakeTable, "TARGET_FILE_ROWS", 200)
    files = table.write_data_files(
        df.withColumn(BUCKET_COL, bucket_expr(table.key_col(), 1)),
        cluster_by=["ts"],
    )
    table.commit(files, summary={"operation": "compact", "epoch_id": table.last_epoch(),
                                 "cluster_by": ["ts"]})
    assert len(files) > 3

    # rolled files are ts-disjoint -> a half-range filter skips files
    cnt = table.read_public().count()
    hi = table.read_public().orderBy("ts").limit(cnt // 3).agg(F.max("ts")).first()[0]
    pruned = prune_files(files, {"ts": (None, hi)})
    assert 0 < len(pruned) < len(files)

    got = _sorted_pd(table.read(stats_filters={"ts": (None, hi)}).drop("_deleted"))
    want = _sorted_pd(table.read().filter(F.col("ts") <= hi).drop("_deleted"))
    assert got.equals(want)
    assert table2  # loaded handle stays readable across commits


# ------------------------------------------------------------------------ tags


def test_tags_resolve_reads_and_pin_vacuum(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 1200, n_conv=30, n_epochs=3)
    replay(table, ch)
    hist = table.history()
    v_mid = hist[1]["version"]  # after epoch 0
    table.create_tag("audited", v_mid)
    assert table.tags() == {"audited": v_mid}
    assert _sorted_pd(table.read_public(version="audited")).equals(
        _sorted_pd(table.read_public(version=v_mid))
    )
    with pytest.raises(FileExistsError):
        table.create_tag("audited")
    with pytest.raises(KeyError, match="no tag"):
        table.read_public(version="nope")

    # vacuum keeps the tagged snapshot's files even outside keep_versions
    table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert all(os.path.exists(f["path"]) for f in table.snapshot(v_mid)["files"])
    assert _sorted_pd(table.read_public(version="audited")) is not None

    # untag -> the next vacuum may reclaim it
    table.delete_tag("audited")
    table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    current_paths = {f["path"] for f in table.snapshot()["files"]}
    expired = [
        f["path"]
        for f in table.snapshot(v_mid)["files"]
        if f["path"] not in current_paths
    ]
    assert expired and not any(os.path.exists(p) for p in expired)


def test_write_audit_publish_with_tag_and_rollback(spark, warehouse):
    table = _mk_table(spark, warehouse)
    ch = generate_changes(spark, 900, n_conv=25, n_epochs=2)
    replay(table, ch.filter(F.col("epoch") == 0))
    good = table.current_version()
    table.create_tag("last-good", good)

    replay(table, ch.filter(F.col("epoch") == 1))  # the "audit" write
    # audit fails -> roll back to the tagged state
    table.rollback(table.resolve_tag("last-good"))
    assert _sorted_pd(table.read_public()).equals(
        _sorted_pd(table.read_public(version="last-good"))
    )


# ------------------------------------------------------------- CDF sync_from


def test_sync_from_bootstraps_and_stays_incremental(spark, warehouse):
    from etl_geo_dem_spark.plans.merge import sync_from

    src = _mk_table(spark, warehouse, "src")
    dst = _mk_table(spark, warehouse, "dst")
    ch = generate_changes(spark, 2400, n_conv=40, n_epochs=4)

    replay(src, ch.filter(F.col("epoch") < 2))
    m1 = sync_from(dst, src)
    assert m1["status"] == "committed"
    assert _sorted_pd(dst.read_public()).equals(_sorted_pd(src.read_public()))

    # no new source commits -> metadata-only no-op
    assert sync_from(dst, src)["status"] == "up_to_date"

    # incremental: only the delta range replays (watermark rides dest metadata)
    v_before = src.current_version()
    replay(src, ch.filter(F.col("epoch") >= 2))
    m2 = sync_from(dst, src)
    assert m2["synced_range"][0] == v_before
    assert _sorted_pd(dst.read_public()).equals(_sorted_pd(src.read_public()))

    # deletes must replicate, including via tombstones
    assert (
        dst.read(include_deleted=True).filter(F.col("_deleted")).count() > 0
        or src.read(include_deleted=True).filter(F.col("_deleted")).count() == 0
    )


def test_sync_from_replicates_gc_tombstone_delete(spark, warehouse):
    """A key deleted in source whose tombstone was ALSO expired before the
    next sync must still disappear downstream (null-stamp delete handling)."""
    from etl_geo_dem_spark.plans.merge import sync_from

    src = _mk_table(spark, warehouse, "src2")
    dst = _mk_table(spark, warehouse, "dst2")
    ch = generate_changes(spark, 1200, n_conv=30, n_epochs=1)
    replay(src, ch)
    sync_from(dst, src)

    victim = src.read_public().select("conv_id", "turn_idx").first()
    del_batch = (
        ch.filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .limit(1)
        .withColumn("op", F.lit("D"))
        .withColumn("epoch", F.lit(1).cast("long"))
        .withColumn("ts", F.col("ts") + F.expr("interval 1 hour"))
        .withColumn("lsn", F.col("lsn") + 10_000_000)
    )
    apply_changes(src, del_batch, 1)
    # expire the tombstone before the downstream ever sees it
    src.expire_tombstones(below_lsn=2 ** 62)
    assert src.read(include_deleted=True).filter(F.col("_deleted")).count() == 0

    sync_from(dst, src)
    assert (
        dst.read_public()
        .filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .count()
        == 0
    )
    # everything else still matches
    assert _sorted_pd(dst.read_public()).equals(_sorted_pd(src.read_public()))


# -------------------------------------------------------- compaction planning


def test_plan_compaction_targets_fragmented_buckets_only(spark, warehouse):
    table = _mk_table(spark, warehouse, n_buckets=4)
    ch = generate_changes(spark, 3000, n_conv=60, n_epochs=5)
    # MOR without auto-fold -> every bucket accumulates one delta per epoch
    replay(table, ch, EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))

    plan = table.plan_compaction(min_files=4, small_file_bytes=1 << 20)
    assert plan, "fragmented MOR buckets must be planned"
    # worst-first ordering by file count
    counts = {b: 0 for b in plan}
    for f in table.snapshot()["files"]:
        if f["bucket"] in counts:
            counts[f["bucket"]] += 1
    assert [counts[b] for b in plan] == sorted((counts[b] for b in plan), reverse=True)
    assert table.plan_compaction(min_files=4, max_buckets=1) == plan[:1]

    before = _sorted_pd(table.read_public())
    table.compact_buckets(plan)
    assert _sorted_pd(table.read_public()).equals(before)
    # folded: nothing left to plan at sane thresholds
    assert table.plan_compaction(min_files=2, small_file_bytes=1) == []


# ------------------------------------------------------------- maintenance CLI


def test_run_maintenance_cli_surface(spark, warehouse, capsys):
    import json as _json

    import run_maintenance

    table = _mk_table(spark, warehouse, "cli")
    ch = generate_changes(spark, 1500, n_conv=30, n_epochs=2)
    replay(table, ch, EngineConfig(merge_mode="mor", max_deltas_per_bucket=0))

    def run(*argv):
        assert run_maintenance.main(list(argv) + ["--table", table.path]) == 0
        return [
            _json.loads(line)
            for line in capsys.readouterr().out.splitlines()
            if line.startswith(("{", "["))
        ]

    hist = run("history")
    assert [h["version"] for h in hist] == [1, 2, 3]
    plan = run("plan", "--min-files", "2")[0]["compact_buckets"]
    assert plan
    assert run("compact")[0]["committed_version"] == 4
    run("tag", "--name", "after-compact")
    assert run("tags")[0] == {"after-compact": 4}
    counts = run("changes", "--from-version", "1")
    assert sum(c["rows"] for c in counts) == table.read_public().count()
    files = run("files")
    assert all("stats" in f for f in files)


# -------------------------------------------------------------- predicate DML


def test_delete_where_and_update_where(spark, warehouse):
    from etl_geo_dem_spark.plans.merge import delete_where, update_where

    table = _mk_table(spark, warehouse, "dml")
    ch = generate_changes(spark, 2000, n_conv=40, n_epochs=2)
    replay(table, ch)
    last_batch_epoch = table.last_epoch()
    total = table.read_public().count()

    # UPDATE ... SET tool='redacted' WHERE role='tool'
    n_match = table.read_public().filter(F.col("role") == "tool").count()
    assert n_match > 0
    m = update_where(table, F.col("role") == "tool", {"tool": F.lit("redacted")})
    assert m["status"] == "committed"
    assert table.last_epoch() == last_batch_epoch  # batch watermark untouched
    upd = table.read_public().filter(F.col("role") == "tool")
    assert upd.count() == n_match
    assert upd.filter(F.col("tool") != "redacted").count() == 0

    # DELETE FROM ... WHERE role='tool'
    delete_where(table, F.col("role") == "tool")
    assert table.read_public().filter(F.col("role") == "tool").count() == 0
    assert table.read_public().count() == total - n_match
    # tombstones exist so late events can't silently resurrect
    assert table.read(include_deleted=True).filter(F.col("_deleted")).count() >= n_match

    # a LATER real CDC event (newer ts) must still win over the DML stamp
    victim = ch.limit(1).select("conv_id", "turn_idx").first()
    resurrect = (
        ch.filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .limit(1)
        .withColumn("op", F.lit("U"))
        .withColumn("text", F.lit("back"))
        .withColumn("ts", F.col("ts") + F.expr("interval 2 days"))
        .withColumn("lsn", F.col("lsn") + 50_000_000)
        .withColumn("epoch", F.lit(last_batch_epoch + 1).cast("long"))
    )
    apply_changes(table, resurrect, last_batch_epoch + 1)
    row = (
        table.read_public()
        .filter(
            (F.col("conv_id") == victim["conv_id"])
            & (F.col("turn_idx") == victim["turn_idx"])
        )
        .collect()
    )
    assert len(row) == 1 and row[0]["text"] == "back"

    with pytest.raises(ValueError, match="key/order"):
        update_where(table, F.lit(True), {"turn_idx": F.lit(0)})


# ------------------------------------------------ expectations & drop column


def test_expectations_counted_and_gating(spark, warehouse):
    from etl_geo_dem_spark.plans.merge import ExpectationViolation

    table = _mk_table(spark, warehouse, "exp")
    ch = generate_changes(spark, 800, n_conv=20, n_epochs=1)

    # counting mode: violations recorded in the manifest, epoch still commits
    m = apply_changes(
        table, ch, 0,
        expectations={
            "ts_set": "ts IS NOT NULL",
            "turn_nonneg": F.col("turn_idx") >= 0,
            "text_long": F.length("text") > 10_000,  # mostly violated
        },
    )
    assert m["status"] == "committed"
    assert m["expectations"]["ts_set"] == 0
    assert m["expectations"]["turn_nonneg"] == 0
    assert m["expectations"]["text_long"] > 0

    # gating mode: violation -> no commit, no state change
    v_before = table.current_version()
    bad = ch.withColumn("epoch", F.lit(1).cast("long"))
    with pytest.raises(ExpectationViolation, match="text_long"):
        apply_changes(
            table, bad, 1,
            expectations={"text_long": "length(text) > 10000"},
            fail_on_violation=True,
        )
    assert table.current_version() == v_before
    assert table.last_epoch() == 0
    # the aborted epoch's files are unreferenced orphans -> vacuum reaps them
    removed = table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert removed


def test_drop_column_metadata_only_and_ghost_guard(spark, warehouse):
    table = _mk_table(spark, warehouse, "dropc")
    ch = generate_changes(spark, 1000, n_conv=25, n_epochs=2, evolve_from_epoch=1)
    replay(table, ch)  # epoch 1 adds tool_args
    assert "tool_args" in [f.name for f in table.schema().fields]
    files_before = [f["path"] for f in table.snapshot()["files"]]

    table.drop_column("tool_args")
    assert "tool_args" not in [f.name for f in table.schema().fields]
    assert "tool_args" not in table.read_public().columns
    # metadata-only: the exact same data files are referenced
    assert [f["path"] for f in table.snapshot()["files"]] == files_before

    # round 4: re-adding the dropped name is ALLOWED — the column_mapping
    # allocates a fresh physical name, so old files' bytes (still on disk
    # under the tombstoned physical) can never resurrect: pre-drop rows read
    # NULL, only the re-added epoch's rows carry values
    readd = (
        ch.filter(F.col("epoch") == 1)
        .withColumn("epoch", F.lit(2).cast("long"))
    )
    m = apply_changes(table, readd, 2)
    assert m["schema_evolved"] == ["tool_args"]
    mapping = table.snapshot_meta().get("column_mapping", {})
    assert mapping.get("tool_args", "tool_args") != "tool_args"  # fresh physical
    with_vals = table.read_public().filter(F.col("tool_args").isNotNull()).count()
    assert 0 < with_vals <= readd.count()  # no ghost resurrection

    # a full rewrite purges the old bytes, clears tombstones AND re-bases the
    # mapping to identity — values survive the rewrite
    table.compact()
    assert table.snapshot().get("dropped_columns") == []
    assert table.snapshot_meta().get("column_mapping") == {}
    assert (
        table.read_public().filter(F.col("tool_args").isNotNull()).count()
        == with_vals
    )

    with pytest.raises(ValueError, match="key/order"):
        table.drop_column("turn_idx")
    with pytest.raises(KeyError):
        table.drop_column("nope")


def test_suggest_n_buckets_power_of_two_sizing(spark, warehouse):
    table = _mk_table(spark, warehouse, "sizing")
    ch = generate_changes(spark, 1500, n_conv=40, n_epochs=1)
    replay(table, ch)
    total = sum(f["bytes"] for f in table.snapshot()["files"])
    # tiny target -> scales up, power of two, within clamps
    n = table.suggest_n_buckets(target_bucket_bytes=max(1, total // 20),
                                min_buckets=1, max_buckets=1 << 10)
    assert n & (n - 1) == 0
    assert n * max(1, total // 20) >= total
    # huge target -> clamps to min_buckets
    assert table.suggest_n_buckets(target_bucket_bytes=1 << 40, min_buckets=8) == 8
