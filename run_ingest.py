"""spark-submit entrypoint: resumable multi-epoch CDC replay job.

Cluster usage (BASELINE north_rule "run via spark-submit --py-files"):

    zip -r engine.zip etl_geo_dem_spark
    spark-submit --py-files engine.zip run_ingest.py \\
        --table /lake/transcripts --source /wal/changes --n-buckets 4096

Local/sandbox usage (also exercised by tests):

    python run_ingest.py --table /tmp/wh/transcripts --synthetic 1000000

Streaming-tail mode (readStream → foreachBatch → MERGE, exactly-once via the
per-stream watermark; restart from the same checkpoint is a metadata no-op):

    python run_ingest.py --table /lake/transcripts \\
        --stream-source '/wal/segments/*' --checkpoint /ckpt/ingest --follow

Kafka-tail mode (topic of Debezium envelopes → decode → exactly-once MERGE;
needs the spark-sql-kafka connector jar on the cluster):

    spark-submit --py-files engine.zip \\
        --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0 \\
        run_ingest.py --table /lake/transcripts \\
        --kafka-topic cdc.transcripts --kafka-servers broker:9092 \\
        --checkpoint /ckpt/kafka --follow

The job is resumable from any point: committed epochs are skipped on metadata
alone (the epoch watermark lives inside the atomic lake snapshot), so rerunning
after a crash continues exactly where the last commit left off.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from etl_geo_dem_spark.config import MERGE_MODES, EngineConfig
from etl_geo_dem_spark.operators.lww import STRATEGIES
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.plans.merge import replay
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.session import get_spark
from etl_geo_dem_spark.sources.changes import generate_changes


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--table", required=True, help="lake table path")
    p.add_argument("--source", help="directory of change-event parquet (with an 'epoch' column)")
    p.add_argument("--synthetic", type=int, help="generate N synthetic events instead of --source")
    p.add_argument("--epochs", type=int, default=8)
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--master", default=None)
    p.add_argument(
        "--strategy", default="agg", choices=STRATEGIES,
        help="LWW dedup strategy; use window for a stream dominated by one key",
    )
    p.add_argument(
        "--merge-mode", default="mor", choices=MERGE_MODES,
        help="names the in-commit fold threshold: mor = O(batch) delta "
             "appends + read-time LWW, a touched bucket folds once it holds "
             "16 deltas (the ingest default); cow = every touched bucket "
             "folds in its epoch's commit",
    )
    p.add_argument(
        "--expect", nargs="*", default=None, metavar="NAME=SQL_PREDICATE",
        help="data-quality expectations counted per epoch (e.g. "
             "ts_set='ts IS NOT NULL'); with --fail-on-violation a violating "
             "epoch aborts BEFORE its snapshot commit",
    )
    p.add_argument("--fail-on-violation", action="store_true")
    p.add_argument(
        "--stream-source",
        help="tail this directory as a Structured Streaming source instead of "
             "a batch --source (exactly-once via the per-stream watermark; "
             "resumable from --checkpoint)",
    )
    p.add_argument(
        "--kafka-topic",
        help="tail a Kafka topic of Debezium envelopes instead of a file "
             "source (requires --kafka-servers and the spark-sql-kafka "
             "connector jar on the cluster; exactly-once via the per-stream "
             "watermark keyed kafka:<topic>:<checkpoint>)",
    )
    p.add_argument("--kafka-servers", help="Kafka bootstrap servers for --kafka-topic")
    p.add_argument(
        "--kafka-lineage", action="store_true",
        help="persist _src_topic/_src_partition/_src_offset lineage columns",
    )
    p.add_argument("--checkpoint", help="streaming checkpoint dir (required with --stream-source / --kafka-topic)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--follow", action="store_true",
        help="keep tailing indefinitely (default: availableNow — drain what "
             "exists, then stop)",
    )
    args = p.parse_args(argv)
    expectations = None
    if args.expect:
        expectations = {}
        for kv in args.expect:
            name, _, pred = kv.partition("=")
            if not pred:
                p.error(f"bad --expect entry {kv!r} (want NAME=SQL_PREDICATE)")
            expectations[name.strip()] = pred

    cfg = EngineConfig(
        dedup_strategy=args.strategy,
        merge_mode=args.merge_mode,
    )
    spark = get_spark(master=args.master, app_name="cdc_ingest")
    t = (
        LakeTable.load(spark, args.table)
        if LakeTable(spark, args.table).exists()
        else LakeTable.create(spark, args.table, STATE_SCHEMA, n_buckets=args.n_buckets)
    )
    if args.kafka_topic:
        if not args.checkpoint or not args.kafka_servers:
            p.error("--checkpoint and --kafka-servers required with --kafka-topic")
        from etl_geo_dem_spark.sources.kafka import start_kafka_cdc_ingest

        t0 = time.time()
        q = start_kafka_cdc_ingest(
            spark, t, topic=args.kafka_topic, checkpoint_dir=args.checkpoint,
            bootstrap_servers=args.kafka_servers, cfg=cfg,
            keep_lineage=args.kafka_lineage,
            expectations=expectations,
            fail_on_violation=args.fail_on_violation,
            available_now=not args.follow,
        )
        q.awaitTermination()
        print(
            json.dumps(
                {
                    "mode": "kafka",
                    "wall_sec": round(time.time() - t0, 2),
                    "snapshot_version": t.current_version(),
                    "stream_watermarks": t.snapshot_meta()["stream_watermarks"],
                    "final_rows": t.read_public().count(),
                }
            )
        )
        return 0
    if args.stream_source:
        if not args.checkpoint:
            p.error("--checkpoint required with --stream-source")
        from etl_geo_dem_spark.streaming.ingest import start_cdc_ingest

        t0 = time.time()
        q = start_cdc_ingest(
            spark, t, args.stream_source, CHANGE_SCHEMA, args.checkpoint, cfg=cfg,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.follow,
            expectations=expectations,
            fail_on_violation=args.fail_on_violation,
        )
        q.awaitTermination()
        sid_watermarks = t.snapshot_meta()["stream_watermarks"]
        print(
            json.dumps(
                {
                    "mode": "stream",
                    "wall_sec": round(time.time() - t0, 2),
                    "snapshot_version": t.current_version(),
                    "stream_watermarks": sid_watermarks,
                    "final_rows": t.read_public().count(),
                }
            )
        )
        return 0
    if args.synthetic:
        changes = generate_changes(
            spark, args.synthetic, n_conv=max(100, args.synthetic // 200),
            n_epochs=args.epochs, evolve_from_epoch=max(1, args.epochs - 2),
        )
    elif args.source:
        # mergeSchema, not a fixed schema: change files written AFTER an
        # additive schema evolution carry extra payload columns that the fixed
        # CHANGE_SCHEMA read would silently null out before the engine ever
        # saw them — evolution must reach apply_changes to evolve the table
        changes = spark.read.option("mergeSchema", "true").parquet(args.source)
        missing = [f.name for f in CHANGE_SCHEMA.fields if f.name not in changes.columns]
        if missing:
            p.error(f"--source files lack required change columns: {missing}")
    else:
        p.error("one of --source / --synthetic is required")

    t0 = time.time()
    manifests = replay(
        t,
        changes,
        cfg,
        expectations=expectations,
        fail_on_violation=args.fail_on_violation,
    )
    wall = time.time() - t0
    applied = sum(m.get("input_events", 0) for m in manifests)
    print(
        json.dumps(
            {
                "epochs_applied": len(manifests),
                "events_applied": applied,
                "wall_sec": round(wall, 2),
                "events_per_sec": round(applied / wall, 1) if wall > 0 else None,
                "snapshot_version": t.current_version(),
                "last_epoch": t.last_epoch(),
                "final_rows": t.read_public().count(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
