"""Planning a read runs no Spark job before the data is read.

Two jobs used to run at planning time:

- a file listing: above ``spark.sql.sources.parallelPartitionDiscovery.threshold``
  paths (Spark's default is 32), Spark lists a read's inputs with a job of one
  task per path, although the snapshot already names every data file.
  ``get_spark`` keeps that listing on the driver; a MOR table of 8 buckets × 5
  epochs has 40 data files, above the default.
- a schema inference: ``spark.read.parquet(path)`` without a schema runs a
  one-task job on every call. The registry's ``t()`` infers once per file and
  passes the schema after that.

Jobs are counted with ``statusTracker().getJobIdsForGroup`` under a job group
per call; the listing job is told apart by the description Spark gives it.
"""

import datetime
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.queries.registry import t
from etl_geo_dem_spark.schemas import STATE_SCHEMA
from etl_geo_dem_spark.sources.changes import epoch_batches, generate_changes

LISTING = "Listing leaf files"
THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    descriptions of the jobs it ran, in job order."""
    sc = spark.sparkContext
    group = f"read-planning-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    descs = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        d = store.job(j).description()
        descs.append(d.get() if d.isDefined() else "")
    return out, descs


def _listing(descs):
    return [d for d in descs if d.startswith(LISTING)]


def _wide_mor_table(spark, path):
    """8 buckets × 5 uncompacted MOR epochs: one data file per bucket and
    epoch, 40 in all."""
    table = LakeTable.create(spark, path, STATE_SCHEMA, n_buckets=8)
    ch = generate_changes(spark, 2000, n_conv=40, n_epochs=5, dup_pct=20)
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    for e, batch in epoch_batches(ch):
        apply_changes(table, batch, e, cfg)
    assert len(table.snapshot()["files"]) > 32
    return table


@pytest.fixture(scope="module")
def wide_mor(spark, tmp_path_factory):
    return _wide_mor_table(spark, str(tmp_path_factory.mktemp("planning") / "t"))


def test_mor_read_runs_no_listing_job(spark, wide_mor):
    rows, descs = _jobs(spark, lambda: wide_mor.read().collect())
    assert rows and _listing(descs) == []
    # Spark's default threshold, for this read only: the same read runs the
    # listing job on top, and nothing else changes
    prev = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "32")
    try:
        rows_default, descs_default = _jobs(spark, lambda: wide_mor.read().collect())
    finally:
        spark.conf.set(THRESHOLD, prev)
    assert len(_listing(descs_default)) == 1
    assert len(descs_default) == len(descs) + 1
    assert sorted(rows_default) == sorted(rows)


def test_table_changes_runs_no_listing_job(spark, wide_mor):
    first = min(h["version"] for h in wide_mor.history() if h["summary"]["epoch_id"] == 0)
    rows, descs = _jobs(spark, lambda: wide_mor.table_changes(first).collect())
    assert rows and _listing(descs) == []


def test_compact_buckets_runs_no_listing_job(spark, tmp_path, spark_plans):
    """The Spark rewrite, forced: 8 small buckets would otherwise be folded
    on the driver with no job at all (tests/test_driver_apply.py)."""
    table = _wide_mor_table(spark, str(tmp_path / "t"))
    before = sorted(table.read_public().collect())
    _, descs = _jobs(spark, lambda: table.compact_buckets(list(range(8))))
    assert descs and _listing(descs) == []
    assert len(table.snapshot()["files"]) == 8
    assert sorted(table.read_public().collect()) == before


def _write_events(path, extra=False):
    cols = {
        "id": pa.array([1, 2, 3], pa.int64()),
        "name": pa.array(["a", None, "c"]),
        # no time zone: parquet's isAdjustedToUTC=false, Spark's timestamp_ntz
        "at": pa.array([datetime.datetime(2024, 1, d, 12) for d in (1, 2, 3)], pa.timestamp("us")),
    }
    if extra:
        cols["score"] = pa.array([0.5, 1.5, None], pa.float64())
    pq.write_table(pa.table(cols), path)


def test_t_second_read_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    _write_events(path)
    t(spark, str(tmp_path), "events")
    df, descs = _jobs(spark, lambda: t(spark, str(tmp_path), "events"))
    assert descs == []
    inferred = spark.read.parquet(path)
    assert df.schema == inferred.schema
    assert isinstance(df.schema["at"].dataType, T.TimestampNTZType)
    assert df.collect() == inferred.collect()


@pytest.mark.parametrize("writer", ["pyarrow_file", "spark_directory"])
def test_t_rereads_a_rewritten_table(spark, tmp_path, writer):
    path = str(tmp_path / "events.parquet")

    def write(extra):
        if writer == "pyarrow_file":
            _write_events(path, extra)
        else:
            src = str(tmp_path / f"src_{extra}.parquet")
            _write_events(src, extra)
            spark.read.parquet(src).write.mode("overwrite").parquet(path)

    write(False)
    assert t(spark, str(tmp_path), "events").columns == ["id", "name", "at"]
    write(True)
    df = t(spark, str(tmp_path), "events")
    assert df.columns == ["id", "name", "at", "score"]
    assert sorted(r["score"] for r in df.collect() if r["score"] is not None) == [0.5, 1.5]


def test_t_missing_table_raises_sparks_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        t(spark, str(tmp_path), "absent")
