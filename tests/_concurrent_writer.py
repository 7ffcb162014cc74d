"""Subprocess worker for the cross-process multi-writer test (not a test
module itself). Opens an EXISTING LakeTable and applies n_epochs of a
deterministic change stream under its own stream_id, retrying on
optimistic-concurrency conflicts with a concurrent writer in another OS
process. Usage: python _concurrent_writer.py <table_path> <prefix> <n_epochs>
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import apply_changes
from etl_geo_dem_spark.session import get_spark
from etl_geo_dem_spark.sources.changes import generate_changes


def stream(spark, prefix: str, n_epochs: int):
    ch = generate_changes(
        spark, 2000, n_conv=30, turns_per_conv=6, n_epochs=n_epochs,
        evolve_from_epoch=None, n_partitions=4,
    )
    # disjoint key spaces per writer: two independent upstream shards
    return ch.withColumn("conv_id", F.concat(F.lit(prefix + "_"), F.col("conv_id")))


def main():
    path, prefix, n_epochs = sys.argv[1], sys.argv[2], int(sys.argv[3])
    spark = get_spark(
        master="local[2]", app_name=f"writer_{prefix}", shuffle_partitions=4
    )
    table = LakeTable(spark, path)
    ch = stream(spark, prefix, n_epochs)
    cfg = EngineConfig(merge_mode="mor")
    for e in range(n_epochs):
        m = apply_changes(
            table, ch.filter(F.col("epoch") == e), e, cfg,
            stream_id=prefix, retries=30,
        )
        print(f"applied {prefix} epoch {e}: {m['status']}", flush=True)
    print(f"DONE {prefix}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
