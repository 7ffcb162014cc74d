"""The driver-sized apply, bucket compaction and the in-commit fold.

A batch whose Catalyst size estimate is at most
``lake_table.DRIVER_FOLD_BYTES`` (``fits_driver``) is brought to the
driver by one ``toArrow()``, folded with ``lww_winners_arrow`` and written
with pyarrow; ``compact_buckets`` over buckets whose files fit is folded the
same way with no Spark job at all, and so is the fold of touched buckets
inside an epoch's commit (all of them under copy-on-write, those whose delta
chain reaches ``max_deltas_per_bucket`` under merge-on-read). These tests
pin those job counts, and pin that what the table records and returns — one
key-sorted file per touched bucket, its rows and stats, manifests,
expectation counts, schema evolution, widening, renames, empty batches, a
non-UTC session — is what the Spark plans (forced with
``forced_spark_plans``) produce for the same input, and that an epoch that
folds writes what merge-on-read plus a compaction of the folded buckets
writes.
"""

from __future__ import annotations

import contextlib
import glob
import os
import uuid

import pyarrow.parquet as pq
import pytest
from conftest import forced_spark_plans
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import ExpectationViolation, apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

MOR = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
COW = EngineConfig(merge_mode="cow")
PATHS = ("arrow", "spark")
# what an epoch manifest reports about the data, whichever path ran
MANIFEST_FIELDS = (
    "status", "input_events", "state_rows_touched_buckets", "touched_buckets",
    "schema_evolved", "schema_widened", "expectations",
)


def _path(path: str):
    """A context for running on ``path``: "spark" forces the Spark plans."""
    return forced_spark_plans() if path == "spark" else contextlib.nullcontext()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the number
    of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"driver-apply-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver apply")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _twins(spark, warehouse, name, n_buckets=8) -> dict[str, LakeTable]:
    return {
        p: LakeTable.create(
            spark, os.path.join(warehouse, f"{name}_{p}"), STATE_SCHEMA,
            n_buckets=n_buckets,
        )
        for p in PATHS
    }


def _contents(files) -> dict[int, tuple]:
    """Per bucket: the file's kind, row count, stats and rows as stored.
    Asserts one file per bucket and rows sorted by key within it."""
    out = {}
    for f in files:
        assert f["bucket"] not in out, "more than one file in a bucket"
        rows = pq.read_table(f["path"]).to_pylist()
        keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
        assert keys == sorted(keys) and len(set(keys)) == len(keys)
        out[f["bucket"]] = (f["kind"], f["rows"], f["stats"], rows)
    return out


def _on_both(spark, tables: dict[str, LakeTable], fn):
    """``fn(table)`` on each twin, the Spark one with its plans forced.
    Asserts both calls added the same files (per bucket: kind, rows, stats
    and stored rows); returns ``{path: fn's result}``."""
    results, added = {}, {}
    for path, table in tables.items():
        before = {f["path"] for f in table.snapshot()["files"]}
        with _path(path):
            results[path] = fn(table)
        added[path] = _contents(
            f for f in table.snapshot()["files"] if f["path"] not in before
        )
    assert added["arrow"] == added["spark"]
    return results


def _apply_on_both(spark, tables, batch, epoch, **kw):
    """Apply one epoch to both twins; asserts each took its path and both
    manifests report the same data."""
    m = _on_both(spark, tables, lambda t: apply_changes(t, batch, epoch, MOR, **kw))
    for path in PATHS:
        assert m[path]["apply_path"] == path
    assert {k: m["arrow"][k] for k in MANIFEST_FIELDS} == {
        k: m["spark"][k] for k in MANIFEST_FIELDS
    }
    return m["arrow"]


def _same_state(tables):
    a, b = (
        tables[p].read(include_deleted=True).orderBy("conv_id", "turn_idx").toPandas()
        for p in PATHS
    )
    assert len(a) > 0 and a.equals(b)
    assert tables["arrow"].schema() == tables["spark"].schema()


def _compact_on_both(spark, tables):
    buckets = sorted(tables["arrow"].delta_counts())
    assert buckets
    _on_both(spark, tables, lambda t: t.compact_buckets(buckets))
    for path, table in tables.items():
        assert table.snapshot()["summary"]["apply_path"] == path
    _same_state(tables)


def test_arrow_apply_runs_one_spark_job(spark, warehouse):
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=8)
    batch = generate_changes(spark, 3000, n_conv=60, n_epochs=1, dup_pct=10)
    m, jobs = _jobs(spark, lambda: apply_changes(table, batch, 0, MOR))
    assert m["apply_path"] == "arrow"
    assert jobs == 1  # the toArrow; the fold, the writes and the commit run none
    assert m["input_events"] == batch.count()
    assert m["state_rows_touched_buckets"] == table.read(include_deleted=True).count()
    assert set(m["phase_sec"]) == {"plan", "merge_write", "commit_and_manifest"}


def test_cow_apply_runs_one_spark_job(spark, warehouse):
    """Copy-on-write is the driver apply plus the fold of the touched
    buckets before the commit: one Spark job (the toArrow), one new
    snapshot holding base files only, one per touched bucket, and no file
    under data/ that no snapshot references (the deltas are gone)."""
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 3000, n_conv=60, n_epochs=2, dup_pct=10)
    batches = dict(epoch_batches(ch))
    apply_changes(table, batches[0], 0, COW)
    version = table.current_version()
    before = {f["path"] for f in table.snapshot()["files"]}
    m, jobs = _jobs(spark, lambda: apply_changes(table, batches[1], 1, COW))
    assert jobs == 1
    assert m["apply_path"] == "arrow"
    assert table.current_version() == version + 1
    files = table.snapshot()["files"]
    assert {f["kind"] for f in files} == {"base"}
    added = sorted(f["bucket"] for f in files if f["path"] not in before)
    assert added == m["touched_buckets"] and m["touched_buckets"]
    assert m["state_rows_touched_buckets"] == table.read(
        buckets=m["touched_buckets"], include_deleted=True
    ).count()
    referenced = {
        os.path.realpath(f["path"])
        for v in range(1, table.current_version() + 1)
        for f in table.snapshot(v)["files"]
    }
    on_disk = {
        os.path.realpath(p)
        for p in glob.glob(os.path.join(table.path, "data", "**"), recursive=True)
        if os.path.isfile(p)
    }
    assert on_disk and on_disk <= referenced


def test_cow_apply_equals_mor_then_compact(spark, warehouse, apply_path):
    """Epoch by epoch, through a schema evolution: a copy-on-write epoch
    commits the same files per bucket (rows, stats, stored rows) as a
    merge-on-read epoch followed by ``compact_buckets`` over its touched
    buckets on a twin, on either path."""
    cow, mor = (
        LakeTable.create(
            spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8
        )
        for name in ("cow", "mor")
    )
    ch = generate_changes(spark, 4000, n_conv=80, n_epochs=3, dup_pct=10, evolve_from_epoch=1)
    for e, b in epoch_batches(ch, evolve_from_epoch=1):
        version = cow.current_version()
        mc = apply_changes(cow, b, e, COW)
        mm = apply_changes(mor, b, e, MOR)
        mor.compact_buckets(mm["touched_buckets"])
        assert mc["apply_path"] == mm["apply_path"] == apply_path
        assert cow.current_version() == version + 1
        fields = [k for k in MANIFEST_FIELDS if k != "state_rows_touched_buckets"]
        assert {k: mc[k] for k in fields} == {k: mm[k] for k in fields}
        assert _contents(cow.snapshot()["files"]) == _contents(mor.snapshot()["files"])
    assert cow.schema() == mor.schema()


def test_mor_fold_in_commit_equals_twin_compaction(spark, warehouse, apply_path):
    """Merge-on-read folds a touched bucket inside the epoch's own commit
    once its delta chain, this epoch's delta included, reaches
    ``max_deltas_per_bucket``: every epoch adds one snapshot, and its files
    equal a never-folding twin's after ``compact_buckets`` over the buckets
    whose chain reached the threshold. After half the buckets are compacted
    on both tables, an epoch folds only some of its touched buckets; the
    others keep their deltas, and no data file is left unreferenced."""
    folding, twin = (
        LakeTable.create(
            spark, os.path.join(warehouse, name), STATE_SCHEMA, n_buckets=8
        )
        for name in ("folding", "twin")
    )
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=2)
    ch = generate_changes(
        spark, 4000, n_conv=80, n_epochs=4, dup_pct=10, evolve_from_epoch=2
    )
    partial = False
    for e, b in epoch_batches(ch, evolve_from_epoch=2):
        version = folding.current_version()
        before = {f["path"] for f in folding.snapshot()["files"]}
        m = apply_changes(folding, b, e, cfg)
        mt = apply_changes(twin, b, e, MOR)
        assert folding.current_version() == version + 1
        assert m["apply_path"] == mt["apply_path"] == apply_path
        touched = set(mt["touched_buckets"])
        over = sorted(k for k, n in twin.delta_counts().items() if k in touched and n >= 2)
        if over:
            twin.compact_buckets(over)
        assert m["touched_buckets"] == mt["touched_buckets"]
        assert m["compacted_buckets"] == over
        assert m["fold_path"] == (apply_path if over else None)
        partial |= 0 < len(over) < len(touched)
        files = folding.snapshot()["files"]
        added = {(f["bucket"], f["kind"]) for f in files if f["path"] not in before}
        assert added == {(k, "base" if k in over else "delta") for k in touched}
        for kind in ("base", "delta"):
            assert _contents(f for f in files if f["kind"] == kind) == _contents(
                f for f in twin.snapshot()["files"] if f["kind"] == kind
            )
        if e == 0:
            for table in (folding, twin):
                table.compact_buckets([0, 1, 2, 3])
    assert partial
    referenced = {
        os.path.realpath(f["path"])
        for v in range(1, folding.current_version() + 1)
        for f in folding.snapshot(v)["files"]
    }
    on_disk = {
        os.path.realpath(p)
        for p in glob.glob(
            os.path.join(folding.path, "data", "**", "*.parquet"), recursive=True
        )
    }
    assert on_disk and on_disk <= referenced


def test_arrow_files_dictionary_encode_repeating_columns_only(spark, warehouse):
    """As parquet-mr ends up doing: a dictionary for a column whose values
    repeat (``role``), PLAIN for an all-unique one (``text``, ``lsn``)."""
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=4)
    apply_changes(table, generate_changes(spark, 2000, n_conv=40, n_epochs=1), 0, MOR)
    for f in table.snapshot()["files"]:
        rg = pq.ParquetFile(f["path"]).metadata.row_group(0)
        dictionary = {
            rg.column(i).path_in_schema: rg.column(i).has_dictionary_page
            for i in range(rg.num_columns)
        }
        assert dictionary["role"]
        assert not dictionary["text"] and not dictionary["lsn"]


def test_arrow_compact_buckets_runs_no_job(spark, warehouse):
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 4000, n_conv=80, n_epochs=4, dup_pct=10)
    for e, b in epoch_batches(ch):
        apply_changes(table, b, e, MOR)
    before = table.read(include_deleted=True).orderBy("conv_id", "turn_idx").toPandas()
    buckets = sorted(table.delta_counts())
    _, jobs = _jobs(spark, lambda: table.compact_buckets(buckets))
    assert jobs == 0
    snap = table.snapshot()
    assert snap["summary"]["apply_path"] == "arrow"
    assert {f["kind"] for f in snap["files"]} == {"base"}
    assert sorted(f["bucket"] for f in snap["files"]) == buckets  # one file each
    after = table.read(include_deleted=True).orderBy("conv_id", "turn_idx").toPandas()
    assert after.equals(before)


def test_arrow_files_match_spark_files(spark, warehouse):
    """Epoch by epoch, with a schema evolution in epoch 1, and then the
    compaction of every bucket: the same files per bucket on both paths."""
    tables = _twins(spark, warehouse, "files")
    ch = generate_changes(spark, 4000, n_conv=80, n_epochs=3, dup_pct=10, evolve_from_epoch=1)
    for e, b in epoch_batches(ch, evolve_from_epoch=1):
        m = _apply_on_both(spark, tables, b, e)
        assert m["schema_evolved"] == (["tool_args"] if e == 1 else [])
    _same_state(tables)
    _compact_on_both(spark, tables)


def test_arrow_expectations_match_spark(spark, warehouse):
    """Counts equal the Spark path's, NULL predicate results count as
    violations, and a fail_on_violation raise leaves no commit behind."""
    tables = _twins(spark, warehouse, "exp")
    ch = generate_changes(spark, 2000, n_conv=40, n_epochs=2)
    batches = dict(epoch_batches(ch))
    expectations = {
        "ts_set": "ts IS NOT NULL",
        "not_delete": F.col("op") != "D",
        "tool_known": "tool = 'search'",  # NULL for most rows: a violation
    }
    m = _apply_on_both(spark, tables, batches[0], 0, expectations=expectations)
    assert m["expectations"]["ts_set"] == 0
    assert 0 < m["expectations"]["not_delete"] < m["input_events"]
    assert m["expectations"]["tool_known"] > 0
    for path, table in tables.items():
        version = table.current_version()
        with _path(path), pytest.raises(ExpectationViolation):
            apply_changes(
                table, batches[1], 1, MOR, expectations=expectations,
                fail_on_violation=True,
            )
        assert table.current_version() == version
        assert table.last_epoch() == 0


def test_arrow_widening_and_rename_match_spark(spark, warehouse):
    """A widened key column (int → long), a renamed column, a batch that
    re-adds the old name (a fresh physical name), and the compaction that
    reads narrow and wide files together."""
    tables = _twins(spark, warehouse, "evolve")
    ch = generate_changes(spark, 3000, n_conv=60, n_epochs=3, dup_pct=10)
    batches = dict(epoch_batches(ch))
    _apply_on_both(spark, tables, batches[0], 0)
    wide = batches[1].withColumn("turn_idx", F.col("turn_idx").cast("long"))
    assert _apply_on_both(spark, tables, wide, 1)["schema_widened"] == ["turn_idx"]
    for table in tables.values():
        table.rename_column("text", "body")
    renamed = batches[2].withColumnRenamed("text", "body").withColumn(
        "text", F.lit("again")
    )
    assert _apply_on_both(spark, tables, renamed, 2)["schema_evolved"] == ["text"]
    mapping = tables["arrow"].snapshot_meta()["column_mapping"]
    assert mapping["body"] == "text" and mapping["text"] != "text"
    _same_state(tables)
    _compact_on_both(spark, tables)


def test_arrow_empty_batch_commits_like_spark(spark, warehouse):
    tables = _twins(spark, warehouse, "empty")
    ch = generate_changes(spark, 1000, n_conv=20, n_epochs=1)
    _apply_on_both(spark, tables, ch, 0)
    m = _apply_on_both(spark, tables, ch.filter(F.lit(False)), 1)
    assert m["status"] == "committed" and m["input_events"] == 0
    assert m["touched_buckets"] == []
    assert all(t.last_epoch() == 1 for t in tables.values())
    _same_state(tables)


def test_arrow_apply_in_a_non_utc_session(spark, warehouse):
    """Timestamps are instants on both paths: files, stats and reads agree
    when the session time zone is not UTC."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        tables = _twins(spark, warehouse, "tz")
        ch = generate_changes(spark, 2000, n_conv=40, n_epochs=2, dup_pct=10)
        for e, b in epoch_batches(ch):
            _apply_on_both(spark, tables, b, e)
        _same_state(tables)
        _compact_on_both(spark, tables)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    want = ch.groupBy().agg(F.min("ts"), F.max("ts")).first()
    stats = [f["stats"]["ts"] for f in tables["arrow"].snapshot()["files"]]
    lo, hi = min(s["min"] for s in stats), max(s["max"] for s in stats)
    # the latest event is its key's winner, so the top stat is exact
    assert lo >= int(want[0].timestamp() * 1e6) and hi == int(want[1].timestamp() * 1e6)
