"""Hypothesis property test: the distributed MERGE replay equals the naive
Python fold for ARBITRARY event streams — not just the generator's
distribution. Hypothesis explores adversarial shapes the seeded generator
never produces (stamp ties across epochs, every-op-on-one-key, delete-first
streams, single-epoch vs many-epoch partitionings of the same events).

SURVEY.md §5 dual-oracle strategy, strengthened from example-based to
property-based. Examples are capped (each runs real Spark jobs); the value is
in the minimized counterexamples hypothesis would print on failure.
"""

import datetime
import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.oracle.replayer import replay_reference
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import replay
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA

BASE = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

# Tiny domains on purpose: collisions (same key, same ts, duplicate lsn) are
# the interesting cases, and small domains make hypothesis hit them constantly.
events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["I", "U", "D"]),          # op
        st.integers(0, 2),                          # conv (3 keys)
        st.integers(0, 1),                          # turn (2 turns)
        st.integers(0, 5),                          # ts offset seconds (ties!)
        st.integers(0, 2),                          # epoch
    ),
    min_size=1,
    max_size=25,
)


def _to_rows(raw):
    rows = []
    for i, (op, conv, turn, ts_off, epoch) in enumerate(raw):
        rows.append(
            {
                "op": op,
                "conv_id": f"c{conv}",
                "turn_idx": turn,
                "role": "user",
                "text": f"t{i}",
                "tool": None,
                "ts": BASE + datetime.timedelta(seconds=ts_off),
                "lsn": i,  # arrival order = lsn (monotone, as a WAL would)
                "epoch": epoch,
            }
        )
    return rows


PROPERTY = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@PROPERTY
@given(raw=events_strategy, merge_mode=st.sampled_from(["cow", "mor"]))
def test_replay_equals_reference_fold_on_arbitrary_streams(
    spark, tmp_path_factory, raw, merge_mode
):
    """MOR epochs this small take the driver (pyarrow) apply."""
    _check_replay(spark, tmp_path_factory, raw, merge_mode)


@PROPERTY
@given(raw=events_strategy, merge_mode=st.sampled_from(["cow", "mor"]))
def test_replay_equals_reference_fold_on_spark_plans(
    spark, tmp_path_factory, spark_plans, raw, merge_mode
):
    """The same property with the Spark apply and bucket folds forced."""
    _check_replay(spark, tmp_path_factory, raw, merge_mode)


def _check_replay(spark, tmp_path_factory, raw, merge_mode):
    rows = _to_rows(raw)
    wh = tmp_path_factory.mktemp("prop")
    table = LakeTable.create(
        spark, os.path.join(str(wh), "t"), STATE_SCHEMA, n_buckets=2
    )
    changes = spark.createDataFrame(rows, CHANGE_SCHEMA)
    replay(table, changes, EngineConfig(merge_mode=merge_mode))

    got = [
        {
            "conv_id": r["conv_id"],
            "turn_idx": r["turn_idx"],
            "text": r["text"],
            "ts": r["ts"].replace(tzinfo=datetime.timezone.utc),
            "lsn": r["lsn"],
        }
        for r in table.read(include_deleted=False)
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    want = [
        {
            "conv_id": r["conv_id"],
            "turn_idx": r["turn_idx"],
            "text": r["text"],
            "ts": r["ts"],
            "lsn": r["lsn"],
        }
        for r in replay_reference(rows)
    ]
    assert got == want
