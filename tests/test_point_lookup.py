"""``LakeTable.point_lookup``: a driver-side read of the pruned files and an
Arrow LWW fold must return exactly what the Spark read returns for the key,
and must not start a Spark job.

The reference for every comparison is ``read(version)`` filtered on the key —
the Spark scan plus ``lww_winners_agg`` — over a merge-on-read table whose
delta chains hold duplicates, deletes, an additively evolved column
(``tool_args``, absent from the older files) and a renamed column (``text`` →
``body``, so files store a physical name that differs from the logical one).
"""

import datetime
import os
import uuid

import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import BUCKET_COL, LakeTable, bucket_expr
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

EVOLVE_FROM = 2
ABSENT = "conv_absent"
UTC = datetime.timezone.utc


@pytest.fixture(scope="module")
def mor_table(spark, tmp_path_factory):
    """A 4-epoch MOR table (deltas never compacted), tagged after epoch 1,
    then ``text`` renamed to ``body``. Returns the table, the version
    committed after epoch 2 and the tag name."""
    path = str(tmp_path_factory.mktemp("lookup") / "t")
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=4)
    ch = generate_changes(
        spark, 2400, n_conv=30, n_epochs=4, dup_pct=30, evolve_from_epoch=EVOLVE_FROM
    )
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    older = None
    for e, batch in epoch_batches(ch, evolve_from_epoch=EVOLVE_FROM):
        apply_changes(table, batch, e, cfg)
        if e == 1:
            table.create_tag("after_e1")
        if e == 2:
            older = table.current_version()
    table.rename_column("text", "body")
    assert any(f["kind"] == "delta" for f in table.snapshot()["files"])
    assert table.snapshot_meta()["column_mapping"] == {"body": "text"}
    return table, older, "after_e1"


def _by_key(rows):
    out = {}
    for r in rows:
        out.setdefault(r["conv_id"], []).append(r)
    return {k: sorted(v, key=lambda r: r["turn_idx"]) for k, v in out.items()}


def _assert_lookups_match_read(table, version):
    want_df = table.read(version=version)
    want = _by_key(want_df.collect())
    keys = sorted(
        {r[0] for r in table.read(version=version, include_deleted=True).select("conv_id").collect()}
    )
    assert want and ABSENT not in keys
    for k in keys + [ABSENT]:
        got_df = table.point_lookup(k, version=version)
        assert got_df.columns == want_df.columns
        got = sorted(got_df.collect(), key=lambda r: r["turn_idx"])
        assert got == want.get(k, []), f"point_lookup({k!r}, version={version!r})"


@pytest.mark.parametrize("which", ["current", "older", "tag"])
def test_point_lookup_equals_filtered_read_for_every_key(spark, mor_table, which):
    table, older, tag = mor_table
    version = {"current": None, "older": older, "tag": tag}[which]
    if which != "current":
        # the older snapshots predate the rename and (for the tag) the evolution
        assert "text" in table.schema(version).names
    _assert_lookups_match_read(table, version)


def test_point_lookup_equals_filtered_read_in_non_utc_session(spark, mor_table):
    table, _, _ = mor_table
    conf = spark.conf
    before = conf.get("spark.sql.session.timeZone")
    conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        _assert_lookups_match_read(table, None)
        # the same instants as the UTC-pinned read, not shifted by the offset
        k = table.read_public().select("conv_id").first()[0]
        got = table.point_lookup(k).select("turn_idx", F.unix_micros("ts")).collect()
        want = (
            table.read_public()
            .filter(F.col("conv_id") == k)
            .select("turn_idx", F.unix_micros("ts"))
            .collect()
        )
        assert sorted(got) == sorted(want)
    finally:
        conf.set("spark.sql.session.timeZone", before)


def test_point_lookup_runs_no_spark_job(spark, mor_table):
    table, _, _ = mor_table
    sc = spark.sparkContext
    key = table.read_public().select("conv_id").first()[0]
    for k in (key, ABSENT):
        group = f"point-lookup-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "point_lookup collect")
        try:
            rows = table.point_lookup(k).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert bool(rows) == (k == key)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _hand_table(spark, warehouse):
    """One base and one delta file holding two versions of two keys:
    ``a`` — the winner (later ts) has a null ``tool`` over an older non-null
    one; ``b`` — a null-ts version with a HIGHER lsn than a dated one (a null
    ts orders lowest, so the dated version wins)."""
    table = LakeTable.create(
        spark, os.path.join(warehouse, "hand"), STATE_SCHEMA, n_buckets=2
    )
    t1 = datetime.datetime(2024, 1, 1, 0, 0, tzinfo=UTC)
    t2 = datetime.datetime(2024, 1, 1, 0, 5, tzinfo=UTC)
    versions = [
        [
            ("a", 0, "user", "old", "tool_x", t1, 1, False),
            ("b", 0, "user", "dated", "tool_y", t1, 2, False),
        ],
        [
            ("a", 0, "user", "new", None, t2, 3, False),
            ("b", 0, "user", "undated", None, None, 9, False),
        ],
    ]
    for kind, rows in zip(("base", "delta"), versions):
        df = spark.createDataFrame(rows, STATE_SCHEMA).withColumn(
            BUCKET_COL, bucket_expr("conv_id", 2)
        )
        files = table.write_data_files(df, kind=kind)
        table.commit(
            carry=list(table.snapshot_meta()["manifests"]),
            new_files=files,
            summary={"operation": "merge"},
        )
    assert {f["kind"] for f in table.snapshot()["files"]} == {"base", "delta"}
    return table


def test_point_lookup_hand_built_lww_edge_cases(spark, warehouse):
    table = _hand_table(spark, warehouse)
    for key, text, tool in (("a", "new", None), ("b", "dated", "tool_y")):
        got = table.point_lookup(key).collect()
        want = table.read().filter(F.col("conv_id") == key).collect()
        assert got == want
        assert [(r["text"], r["tool"]) for r in got] == [(text, tool)]
