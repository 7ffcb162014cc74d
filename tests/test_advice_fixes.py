"""Regression tests for the round-1 advice findings: snapshot metadata
propagation, commit CAS, atomic source-path lineage, vacuum orphan grace,
and exact distinct-turn state tracking."""

import datetime
import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import CommitConflict, LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.streaming.stateful import _update

T0 = datetime.datetime(2024, 1, 1)


def _ev(op, conv, turn, ts_s, lsn, epoch, text=None):
    return (op, conv, turn, None if op == "D" else "user",
            text, None, T0 + datetime.timedelta(seconds=ts_s), lsn, epoch)


def test_custom_key_cols_survive_mor_commits(spark, warehouse):
    """A table created with non-default key_cols/order_cols must resolve
    merge-on-read LWW on THOSE keys from version 2 onward — commit() has to
    carry the metadata forward, not let read() fall back to the defaults."""
    table = LakeTable.create(
        spark, os.path.join(warehouse, "t"), STATE_SCHEMA,
        n_buckets=4, key_cols=["conv_id"], order_cols=["lsn"],
    )
    cfg = EngineConfig(merge_mode="mor", max_deltas_per_bucket=0)
    # two epochs hitting the SAME conv_id with different turn_idx: under
    # key_cols=["conv_id"] the second must supersede the first entirely.
    e0 = spark.createDataFrame([_ev("I", "c1", 0, 1, 1, 0, "old")], CHANGE_SCHEMA)
    e1 = spark.createDataFrame([_ev("U", "c1", 7, 2, 2, 1, "new")], CHANGE_SCHEMA)
    apply_changes(table, e0, 0, cfg)
    apply_changes(table, e1, 1, cfg)
    snap = table.snapshot()
    assert snap["key_cols"] == ["conv_id"] and snap["order_cols"] == ["lsn"]
    rows = table.read_public().collect()
    assert len(rows) == 1, "default-key fallback would return one row per turn_idx"
    assert rows[0]["turn_idx"] == 7 and rows[0]["text"] == "new"


def test_commit_cas_rejects_stale_parent(spark, warehouse):
    """A commit whose file list was derived from a superseded snapshot must
    raise CommitConflict instead of silently dropping the interloper's files."""
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=4)
    base = table.snapshot()["version"]
    table.commit([], summary={"operation": "interloper", "epoch_id": -1})
    with pytest.raises(CommitConflict, match="expected parent"):
        table.commit([], summary={"operation": "stale", "epoch_id": -1},
                     expected_parent=base)
    # and the unguarded legacy form still works
    assert table.commit([], summary={"operation": "ok", "epoch_id": -1}) == base + 2


def test_manifest_source_path_written_atomically(spark, warehouse, tmp_path):
    """source_path must land in the epoch manifest's FIRST write (one write per
    epoch), so a crash cannot leave a committed epoch invisible to
    applied_paths()."""
    from etl_geo_dem_spark.sources.manifest import applied_paths, ingest_manifest

    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=4)
    f1 = str(tmp_path / "c1.parquet")
    spark.createDataFrame([_ev("I", "a", 0, 1, 1, 0, "x")], CHANGE_SCHEMA).write.parquet(f1)
    mf = tmp_path / "manifest.txt"
    mf.write_text(f"{f1}\n")

    writes: list[int] = []
    orig = table.write_epoch_manifest

    def counting(epoch_id, manifest, stream_id=None):
        writes.append(epoch_id)
        assert "source_path" in manifest, "source_path missing from first manifest write"
        return orig(epoch_id, manifest, stream_id=stream_id)

    table.write_epoch_manifest = counting
    out = ingest_manifest(spark, table, str(mf), CHANGE_SCHEMA)
    assert [m["status"] for m in out] == ["committed"]
    assert writes.count(out[0]["epoch_id"]) == 1, "manifest was re-written post-commit"
    assert applied_paths(table) == {f1}


def test_vacuum_spares_young_uncommitted_commit_dir(spark, warehouse):
    """An unreferenced commit dir younger than the orphan grace window may be a
    concurrent writer's in-flight commit — vacuum must not reap it."""
    table = LakeTable.create(spark, os.path.join(warehouse, "t"), STATE_SCHEMA, n_buckets=4)
    batch = spark.createDataFrame([_ev("I", "a", 0, 1, 1, 0, "x")], CHANGE_SCHEMA)
    apply_changes(table, batch, 0)
    # simulate a concurrent writer mid-commit: data written, snapshot not yet
    from etl_geo_dem_spark.plans.lake_table import BUCKET_COL, bucket_expr

    inflight = table.read(include_deleted=True).withColumn(
        BUCKET_COL, bucket_expr("conv_id", 4)
    )
    pending = table.write_data_files(inflight, kind="base")
    removed = table.vacuum(keep_versions=1)  # default grace: must spare them
    assert all(os.path.exists(f["path"]) for f in pending)
    assert not any(f["path"] in removed for f in pending)
    # with the grace window off, the orphans are reclaimable
    removed = table.vacuum(keep_versions=1, orphan_grace_sec=0.0)
    assert {os.path.realpath(f["path"]) for f in pending} <= {
        os.path.realpath(p) for p in removed
    }
    assert table.read_public().count() == 1  # committed state untouched


class _FakeState:
    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_stateful_distinct_turns_across_batches():
    """turn_idx values re-seen in later micro-batches must not inflate
    turns_seen — the state carries the exact seen-set, not a per-batch count."""
    state = _FakeState()
    b1 = pd.DataFrame({"turn_idx": [0, 1, 2, 2], "lsn": [1, 2, 3, 4]})
    (out1,) = _update(("c1",), iter([b1]), state)
    assert out1["turns_seen"].iloc[0] == 3
    b2 = pd.DataFrame({"turn_idx": [1, 2, 3], "lsn": [5, 6, 7]})  # 1,2 re-seen
    (out2,) = _update(("c1",), iter([b2]), state)
    assert out2["turns_seen"].iloc[0] == 4, "re-seen turns were double-counted"
    assert out2["max_lsn"].iloc[0] == 7
    assert out2["batch_rows"].iloc[0] == 3


@pytest.mark.parametrize("tau", [0.8, 0.9, 0.7])
def test_jaccard_index_prefix_uses_exact_ratio(spark, tau):
    """The index prefix ``sz − floor(2τ/(1+τ)·sz) + 1`` takes the ratio from
    ``tau`` exactly; at τ=0.8 it is ``sz − floor(8·sz/9) + 1``, with no id
    lost at the multiples of 9 where a float 0.888… ratio floors one low."""
    from fractions import Fraction

    from etl_geo_dem_spark.queries.textops import _index_prefix_len

    t = Fraction(str(tau))
    r = 2 * t / (1 + t)
    if tau == 0.8:
        assert r == Fraction(8, 9)
    got = {
        row.sz: row.li
        for row in spark.range(1, 501)
        .select(F.col("id").cast("int").alias("sz"))
        .select("sz", _index_prefix_len(F.col("sz"), tau).alias("li"))
        .collect()
    }
    assert got == {
        sz: sz - (r.numerator * sz) // r.denominator + 1 for sz in range(1, 501)
    }


def test_neighbourhood_window_ignores_null_dated_orders(spark, tmp_path):
    """NULL-dated orders never satisfy the oracle's BETWEEN join; the range
    window must not pair them with each other either."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_geo_dem_spark.queries import REGISTRY

    d = datetime.datetime
    orders = pa.table({
        "o_orderkey": pa.array([10, 11, 12, 13, 20, 21, 30, 31], pa.int64()),
        "o_custkey": pa.array([1, 1, 1, 1, 2, 2, 3, 3], pa.int64()),
        "o_orderdate": pa.array(
            [None, None, d(2024, 1, 1), d(2024, 1, 5), None, None,
             d(2024, 1, 1), d(2024, 1, 20)],
            pa.timestamp("us"),
        ),
    })
    pq.write_table(orders, tmp_path / "orders.parquet")
    q = REGISTRY["join_neighbourhood_window"]

    got = sorted(tuple(r) for r in q.fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    exp = sorted(con.execute(q.oracle).fetchall())
    assert exp == [(1, 1)]
    assert got == exp
