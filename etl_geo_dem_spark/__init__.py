"""etl_geo_dem_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference ETL (grahekk/ETL-geo_dem, see
/root/repo/SURVEY.md) for a different domain: a binlog/WAL-style change stream of
insert/update/delete events keyed by ``(conv_id, turn_idx)`` is applied as idempotent,
last-writer-wins MERGE-style upserts into a lake table of multi-turn agent
transcripts.

Because no Iceberg/Delta jars ship in this environment, the lake layer itself
(atomic snapshot commits, bucket-granular copy-on-write MERGE, additive schema
evolution, time travel, per-epoch lineage manifests) is implemented from scratch on
parquet + JSON manifests in :mod:`etl_geo_dem_spark.plans.lake_table` — the design
follows the publicly documented Iceberg spec concepts (snapshots, manifests, atomic
pointer swap) re-done in plain PySpark.

Layout
------
- ``session``      SparkSession factory (AQE, Arrow, UTC, shuffle partitions)
- ``schemas``      transcript + change-event StructTypes
- ``config``       engine configuration dataclass
- ``operators/``   LWW dedup (agg-combine + window; salted two-stage for queries),
                   doc dedup (minhash/simhash/ngram), similarity search, text analysis,
                   multimodal plumbing
- ``sources/``     deterministic synthetic CDC generator, manifest/file sources
- ``plans/``       lake table format, MERGE planner/executor, epoch checkpoints
- ``functions/``   scalar expression library
- ``streaming/``   Structured Streaming ingest (foreachBatch exactly-once)
- ``oracle/``      single-threaded Python reference replayer (test oracle)
- ``queries/``     driver-facing query registry (queries() + oracle_sql())
"""

__version__ = "0.1.0"
