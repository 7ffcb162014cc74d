"""MERGE-style CDC apply — the engine's flagship plan.

Semantics (SURVEY.md §2.3 J5 — the reference's join-update
``UPDATE … FROM … WHERE ST_equals`` re-expressed as a lake MERGE):

    MERGE INTO transcripts t
    USING lww_winners(batch) s
    ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND (s.ts, s.lsn) > (t.ts, t.lsn) AND s.op = 'D' THEN tombstone
    WHEN MATCHED AND (s.ts, s.lsn) > (t.ts, t.lsn)               THEN UPDATE
    WHEN NOT MATCHED AND s.op != 'D'                             THEN INSERT
    (deletes on absent keys still write a tombstone, so a later out-of-order
     event older than the delete cannot resurrect the row)

Physically (copy-on-write): per-key LWW reduce of the batch → derive touched
buckets → read ONLY those buckets of current state → one more LWW reduce of
(state ∪ batch-winners) → copy-on-write rewrite of touched buckets → atomic
snapshot commit carrying the epoch id. Untouched buckets' files carry over to
the new snapshot unchanged. Merge-on-read is ONE Spark job per epoch: LWW
reduce → delta-file append; the touched-bucket set falls out of the written
files' metadata, so there is no pre-write derivation pass at all.

Exactly-once: the epoch id commits atomically inside the snapshot; re-applying an
epoch ≤ the committed watermark is a no-op (and even a forced re-apply converges
to the same state — LWW is idempotent). This replaces the reference's racy
skip-if-exists + append (`pipeline_transform_sea_level.py:1377-1380`;
`pipeline_load_localPG.py:26-56`).

Schema evolution: extra payload columns in the batch evolve the table schema
additively (union-by-name); old files are read with the evolved schema and
null-filled — analog of the reference's pre-union type harmonization
(`pipeline_transform_vrt_gdal.py:258-306`).
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.operators.lww import lww_winners
from etl_geo_dem_spark.operators.skew import detect_hot_keys
from etl_geo_dem_spark.plans.lake_table import (
    BUCKET_COL,
    LakeTable,
    bucket_expr,
    carry_excluding,
)
from etl_geo_dem_spark.schemas import KEY_COLS, ORDER_COLS

ENVELOPE_COLS = {"op", "epoch"}


def _obs_value(obs: Observation, key: str, default: int = 0) -> int:
    """Observation metrics are absent when the observed node optimizes to an
    empty LocalTableScan (e.g. an empty change batch) — fall back instead of
    failing a committed epoch's manifest."""
    try:
        return obs.get[key]
    except Exception:
        return default


def _bucket_lineage(new_files: list[dict[str, Any]]) -> dict[str, dict[str, Any]]:
    """Per-bucket rows/bytes lineage, AGGREGATED across files: maxRecordsPerFile
    can roll several files per bucket per commit, and a one-entry-per-bucket
    dict would silently keep only the last file — under-reporting exactly the
    hot buckets the lineage metrics exist to expose."""
    out: dict[str, dict[str, Any]] = {}
    for f in new_files:
        e = out.setdefault(str(f["bucket"]), {"rows": 0, "bytes": 0, "files": 0, "paths": []})
        e["rows"] += f["rows"]
        e["bytes"] += f["bytes"]
        e["files"] += 1
        e["paths"].append(f["path"])
    return out


class SchemaEvolutionError(Exception):
    """Non-additive schema change in a change batch (type conflict / dropped col)."""


class ExpectationViolation(Exception):
    """A data-quality expectation failed and fail_on_violation was set; the
    epoch did NOT commit (its written files are unreferenced orphans that
    vacuum() reaps) — the write-audit half of WAP without a second pass."""


# lossless widening lattice (Iceberg's permitted type promotions): within the
# integer chain, within the float chain, and small-int → double (exact up to
# 2^53). long → double is NOT here — it silently loses precision.
_INT_CHAIN = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_FLOAT_CHAIN = [T.FloatType(), T.DoubleType()]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Smallest type both ``a`` and ``b`` convert to losslessly, else None."""
    if a == b:
        return a
    if a in _INT_CHAIN and b in _INT_CHAIN:
        return max(a, b, key=_INT_CHAIN.index)
    if a in _FLOAT_CHAIN and b in _FLOAT_CHAIN:
        return max(a, b, key=_FLOAT_CHAIN.index)
    small_int = _INT_CHAIN[:-1]
    if (a in small_int and b == T.DoubleType()) or (b in small_int and a == T.DoubleType()):
        return T.DoubleType()
    return None


def evolve_schema(
    state_schema: T.StructType, batch: DataFrame
) -> tuple[T.StructType, list[str], list[str]]:
    """Return (evolved state schema, new column names, widened column names).

    Two evolution kinds are accepted, both metadata-only for existing files:

    - ADDITIVE: a batch column the table lacks is appended (nullable); old
      files null-fill it on read.
    - WIDENING: a batch column arrives with a wider type on the lossless
      lattice (int chain, float chain, small-int → double, as Iceberg's type
      promotion rules) — the table type widens and the parquet reader upcasts
      old narrow files on read, no rewrite. A NARROWER batch type upcasts the
      batch instead (table schema unchanged).

    Anything else (string ↔ numeric, dropped columns, long → double) raises.
    """
    state_by_name = {f.name: f for f in state_schema.fields}
    new_fields: list[T.StructField] = []
    widened: dict[str, T.DataType] = {}
    for f in batch.schema.fields:
        if f.name in ENVELOPE_COLS:
            continue
        cur = state_by_name.get(f.name)
        if cur is None:
            new_fields.append(T.StructField(f.name, f.dataType, True))  # force nullable
        elif cur.dataType != f.dataType:
            w = _widen(cur.dataType, f.dataType)
            if w is None:
                raise SchemaEvolutionError(
                    f"column {f.name!r}: table has {cur.dataType.simpleString()}, "
                    f"batch has {f.dataType.simpleString()} — not on the lossless "
                    "widening lattice; only additive/widening evolution is allowed"
                )
            if w != cur.dataType:
                widened[f.name] = w
    if not new_fields and not widened:
        return state_schema, [], []
    evolved = T.StructType(
        [
            T.StructField(f.name, widened.get(f.name, f.dataType), f.nullable)
            for f in state_schema.fields
        ]
        + new_fields
    )
    return evolved, [f.name for f in new_fields], sorted(widened)


def _to_state_shape(winners: DataFrame, evolved: T.StructType) -> DataFrame:
    """Project batch LWW winners into internal state shape (tombstone flag set).

    Columns cast to the EVOLVED type: after a widening evolution the batch may
    be the narrow side (old producer still emitting int32 into a widened-long
    table) — the cast is a no-op when types already agree."""
    cols = []
    for f in evolved.fields:
        if f.name == "_deleted":
            cols.append((F.col("op") == "D").alias("_deleted"))
        elif f.name in winners.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return winners.select(*cols)


def apply_changes(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int,
    cfg: EngineConfig = EngineConfig(),
    extra_manifest: dict[str, Any] | None = None,
    stream_id: str | None = None,
    retries: int = 2,
    expectations: dict[str, Any] | None = None,
    fail_on_violation: bool = False,
) -> dict[str, Any]:
    """Apply one epoch of change events to the table. Returns the epoch manifest.

    ``expectations`` are named data-quality predicates over the INPUT events
    (Delta-constraints analog): ``{"ts_set": "ts IS NOT NULL", "known_op":
    F.col("op").isin("I","U","D")}`` — string entries go through ``F.expr``.
    Violation counts ride the SAME pass as the merge (Observation metrics on
    the batch — no extra scan, no extra shuffle) and land in the epoch
    manifest under ``expectations``. With ``fail_on_violation`` the epoch
    raises :class:`ExpectationViolation` AFTER the data files are written but
    BEFORE the snapshot commit, so a bad batch leaves no committed state —
    only orphan files for vacuum. A NULL predicate result counts as a
    violation (unknown is not acceptable).

    ``extra_manifest`` fields (e.g. a loader's ``source_path``) are merged into
    the epoch manifest BEFORE its first write, so lineage that restart logic
    depends on is recorded atomically with the epoch — never by a second write
    that a crash could separate from the commit.

    ``stream_id`` marks the epoch as a STREAMING micro-batch: the exactly-once
    skip keys on the table's per-stream watermark (micro-batch ids restart at 0
    with every fresh checkpoint, so the global batch watermark would wrongly
    swallow them — see :meth:`LakeTable.last_stream_epoch`), and the commit
    advances that stream's watermark instead of the global one.

    ``retries``: on :class:`CommitConflict` (another writer — e.g. a concurrent
    ``compact()`` — committed between our snapshot read and our commit), the
    whole merge re-derives from the NEW snapshot and retries, Iceberg-style
    optimistic concurrency. The conflicting attempt's data files become
    unreferenced orphans that :meth:`LakeTable.vacuum` reaps."""
    from etl_geo_dem_spark.plans.lake_table import CommitConflict

    attempt = 0
    while True:
        try:
            return _apply_changes_once(
                table, batch, epoch_id, cfg, extra_manifest, stream_id,
                expectations, fail_on_violation,
            )
        except CommitConflict:
            if attempt >= retries:
                raise
            attempt += 1


def _apply_changes_once(
    table: LakeTable,
    batch: DataFrame,
    epoch_id: int,
    cfg: EngineConfig,
    extra_manifest: dict[str, Any] | None,
    stream_id: str | None,
    expectations: dict[str, Any] | None = None,
    fail_on_violation: bool = False,
) -> dict[str, Any]:
    t0 = time.time()
    # ONE snapshot parse per attempt: every metadata read below (watermarks,
    # schema, bucket count, manifest refs) derives from this dict — the
    # O(files)-sized file list is never materialized on the MOR path at all
    # (VERDICT r3 'What's wrong #2': ≥5 accessor re-parses per epoch).
    snap = table.snapshot_meta()
    last = int(snap["summary"].get("epoch_id", -1))
    watermark = (
        int(snap.get("stream_watermarks", {}).get(stream_id, -1))
        if stream_id is not None
        else last
    )
    if epoch_id <= watermark:
        return {
            "epoch_id": epoch_id,
            "status": "skipped",
            "last_committed_epoch": watermark,
            "stream_id": stream_id,
        }

    n_buckets = int(snap["n_buckets"])
    state_schema = T.StructType.fromJson(snap["schema"])
    evolved, new_cols, widened_cols = evolve_schema(state_schema, batch)
    # Widening is order- and grouping-preserving (upcast longs compare like
    # their ints), so composite-key and LWW-clock columns may widen — but the
    # BUCKETING column may not: xxhash64 is type-sensitive (int32(42) and
    # int64(42) hash to different buckets), so widening it would strand every
    # stored row in a bucket the new hash no longer probes.
    bucket_key = snap.get("key_col", "conv_id")
    if bucket_key in widened_cols:
        raise SchemaEvolutionError(
            f"cannot widen bucketing key column {bucket_key!r}: the storage "
            "bucket is xxhash64 over the key's TYPE — stored rows would split "
            "across buckets. rebucket() after an explicit type migration "
            "instead."
        )
    # Physical-name allocation for NEW columns (the field-id stand-in): a new
    # logical column defaults to physical == logical, UNLESS that physical is
    # (a) tombstoned by a drop_column (old files still hold those bytes —
    # projecting them would resurrect pre-drop values) or (b) already taken by
    # another live column's physical (e.g. a renamed column's birth name). In
    # either case a fresh suffixed physical is allocated, so re-adding a
    # dropped name is SAFE: pre-drop rows read NULL, never ghost data.
    parent_mapping = dict(snap.get("column_mapping") or {})
    tombstoned = set(snap.get("dropped_columns", []))  # PHYSICAL names
    current_physicals = {
        parent_mapping.get(f.name, f.name) for f in state_schema.fields
    }
    new_mapping = dict(parent_mapping)
    for c in new_cols:
        p = c
        n = 0
        while p in tombstoned or p in current_physicals:
            n += 1
            suffix = f"__r{snap['version'] + 1}"
            p = f"{c}{suffix}" if n == 1 else f"{c}{suffix}_{n}"
        if p != c:
            new_mapping[c] = p
        current_physicals.add(p)
    # merge keys/ordering come from the table's own metadata (persisted at
    # create() and carried forward by every commit) — module defaults only
    # apply to pre-metadata snapshots.
    key_cols = snap.get("key_cols", KEY_COLS)
    order_cols = snap.get("order_cols", ORDER_COLS)

    obs_in = Observation(f"epoch_{epoch_id}_in")
    exp_metrics = []
    for name, cond in (expectations or {}).items():
        c = F.expr(cond) if isinstance(cond, str) else cond
        # NULL predicate result counts as a violation (unknown != acceptable)
        exp_metrics.append(
            F.sum(F.when(F.coalesce(c, F.lit(False)), 0).otherwise(1)).alias(
                f"viol_{name}"
            )
        )
    batch = batch.observe(obs_in, F.count(F.lit(1)).alias("events"), *exp_metrics)

    hot_keys = None
    strategy = cfg.dedup_strategy
    if strategy == "salted_window":
        hot_keys = detect_hot_keys(
            batch, key_cols[0], cfg.hot_key_threshold, cfg.hot_key_sample
        )
    fused = strategy == "agg" and cfg.merge_mode == "mor"
    if fused:
        # fused-exchange MOR apply (round 6, guide §2.4 "two operations keyed
        # the same way can share one exchange"): repartition ONCE by the
        # storage bucket, then aggregate by (bucket, key). The exchange has no
        # explicit count: spark.sql.shuffle.partitions sizes it, and each
        # bucket still lands in exactly one task, so a commit writes at most
        # one file per bucket; raise that setting for more write parallelism.
        # Bucket is a pure function of the key, so bucket-partitioning
        # already co-locates every key and Spark plans the aggregate WITHOUT
        # its own exchange; the writer then takes the output
        # pre_partitioned. One shuffle + one stage barrier per
        # epoch instead of two of each (measured 3.6 s → 2.3 s per bench
        # epoch warm). The skew trade, and the "window" escape for a batch
        # dominated by one key, are documented on EngineConfig.dedup_strategy.
        bucketed = batch.withColumn(BUCKET_COL, bucket_expr(bucket_key, n_buckets))
        winners = lww_winners(
            bucketed.repartition(F.col(BUCKET_COL)),
            [BUCKET_COL, *key_cols], order_cols, strategy="agg",
        )
    else:
        winners = lww_winners(
            batch, key_cols, order_cols, strategy=strategy,
            salt_buckets=cfg.salt_buckets, hot_keys=hot_keys,
        )
    batch_state = _to_state_shape(winners, evolved).withColumn(
        BUCKET_COL, bucket_expr(bucket_key, n_buckets)
    )

    obs_out = Observation(f"epoch_{epoch_id}_out")
    t_dedup = 0.0
    t_write0 = time.time()  # cow re-bases this after its dedup+prune phase
    if cfg.merge_mode == "mor":
        # merge-on-read: append the epoch's winners as DELTA files — O(batch)
        # writes, no read of current state; the read path resolves LWW over
        # base ∪ deltas (LakeTable.read). Compaction folds deltas back.
        # ONE Spark job per epoch: the touched-bucket set falls out of the
        # written files' metadata for free, so no pre-write distinct+collect
        # (and no persist) — that extra job was a per-epoch driver-side
        # constant that Amdahl-capped multi-executor scaling (measured in
        # BENCH/BASELINE.md §4: the 4-JVM level pays it at ~4× the relative
        # cost of the 1-JVM level).
        out = batch_state.observe(obs_out, F.count(F.lit(1)).alias("rows"))
        new_files = table.write_data_files(
            out, kind="delta", max_records_per_file=cfg.target_file_rows,
            column_mapping=new_mapping, pre_partitioned=fused,
            rows_unique_per_key=True,  # LWW winners: one row per key
        )
        # nothing rewritten: the parent's manifest refs carry over BY
        # REFERENCE — commit metadata is O(this epoch's files), flat as the
        # table grows (manifest-list tier, lake_table.py module docstring)
        carried_refs = list(snap.get("manifests", []))
        touched = sorted({f["bucket"] for f in new_files})
    else:
        # copy-on-write needs the touched set BEFORE writing (it decides which
        # state buckets to read), so the deduped batch has two consumers —
        # persist it once instead of recomputing the dedup chain twice.
        # MEMORY_AND_DISK: spills gracefully when winners exceed memory.
        batch_state = batch_state.persist()
        t_dedup0 = time.time()
        # touched-partition derivation (SURVEY.md §4 "partition pruning before
        # execution") — bounded by n_buckets, safe to collect.
        touched = sorted(
            r[0] for r in batch_state.select(BUCKET_COL).distinct().collect()
        )
        t_dedup = time.time() - t_dedup0
        t_write0 = time.time()  # don't double-count the dedup phase as write
        target = table.read(buckets=touched, include_deleted=True)
        for c in new_cols:  # union-by-name null-fill for pre-evolution state
            if c not in target.columns:
                target = target.withColumn(c, F.lit(None).cast(dict(
                    (f.name, f.dataType) for f in evolved.fields)[c]))
        # cast-select: on a widening evolution the stored state is the narrow
        # side; cast is a no-op for unchanged columns.
        target = target.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in evolved.fields]
        ).withColumn(BUCKET_COL, bucket_expr(bucket_key, n_buckets))
        merged = lww_winners(
            target.unionByName(batch_state), key_cols, order_cols, strategy="agg"
        )
        merged = merged.observe(obs_out, F.count(F.lit(1)).alias("rows"))
        new_files = table.write_data_files(
            merged, kind="base", max_records_per_file=cfg.target_file_rows,
            column_mapping=new_mapping,
            rows_unique_per_key=True,  # LWW merge output: one row per key
        )
        # copy-on-write: the rewritten buckets leave the carried refs by
        # metadata exclusion — no file descriptor is re-serialized
        carried_refs = carry_excluding(snap.get("manifests", []), touched)
        batch_state.unpersist()
    t_write = time.time() - t_write0
    # F.sum over an EMPTY batch is NULL (and an optimized-away plan has no
    # metrics at all) — both mean zero violations, not a crash in the gate.
    exp_counts = {
        name: int(_obs_value(obs_in, f"viol_{name}") or 0)
        for name in (expectations or {})
    }
    if fail_on_violation and any(v > 0 for v in exp_counts.values()):
        bad = {k: v for k, v in exp_counts.items() if v > 0}
        raise ExpectationViolation(
            f"epoch {epoch_id}: data-quality expectations violated {bad} — "
            "snapshot NOT committed (written files are orphans; vacuum reaps)"
        )
    version = table.commit(
        carry=carried_refs,
        new_files=new_files,
        summary={
            "operation": "merge",
            # a stream commit leaves the global batch watermark untouched and
            # advances only its own stream watermark — the two resume paths
            # must not regress each other.
            "epoch_id": epoch_id if stream_id is None else last,
            "stream_id": stream_id,
            "touched_buckets": touched,
            "new_files": len(new_files),
            "schema_evolved": new_cols,
            "schema_widened": widened_cols,
        },
        schema=evolved,
        expected_parent=snap["version"],
        stream_watermarks=(
            None
            if stream_id is None
            else {**snap.get("stream_watermarks", {}), stream_id: epoch_id}
        ),
        column_mapping=new_mapping,
    )

    # bounded read amplification under merge-on-read: fold any bucket whose
    # delta chain exceeded the policy (SURVEY §4 "data layout for reads").
    # The epoch is already committed at this point, so a compaction conflict
    # (after its own internal retries) must NOT bubble up as a merge conflict —
    # the fold is maintenance and safely deferred to the next epoch.
    from etl_geo_dem_spark.plans.lake_table import CommitConflict

    compacted_buckets: list[int] = []
    if cfg.merge_mode == "mor" and cfg.max_deltas_per_bucket > 0:
        over = [
            b for b, c in table.delta_counts().items() if c >= cfg.max_deltas_per_bucket
        ]
        if over:
            try:
                table.compact_buckets(over)
                compacted_buckets = sorted(over)
            except CommitConflict:
                pass  # another writer won; delta chains fold on a later epoch

    manifest = {
        "epoch_id": epoch_id,
        "stream_id": stream_id,
        "status": "committed",
        "snapshot_version": version,
        "input_events": _obs_value(obs_in, "events"),
        "state_rows_touched_buckets": _obs_value(obs_out, "rows"),
        "touched_buckets": touched,
        "n_touched": len(touched),
        "schema_evolved": new_cols,
        "schema_widened": widened_cols,
        "expectations": exp_counts,
        "merge_mode": cfg.merge_mode,
        "compacted_buckets": compacted_buckets,
        "dedup_strategy": strategy,
        "hot_keys_detected": len(hot_keys) if hot_keys is not None else None,
        "lineage": _bucket_lineage(new_files),
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": {
            "dedup_and_prune": round(t_dedup, 3),
            "merge_write": round(t_write, 3),
            "commit_and_manifest": round(time.time() - t0 - t_dedup - t_write, 3),
        },
        "parallelism": table.spark.sparkContext.defaultParallelism,
    }
    if extra_manifest:
        manifest.update(extra_manifest)
    table.write_epoch_manifest(epoch_id, manifest, stream_id=stream_id)
    return manifest


def replay(
    table: LakeTable,
    changes: DataFrame,
    cfg: EngineConfig = EngineConfig(),
    expectations: dict[str, Any] | None = None,
    fail_on_violation: bool = False,
) -> list[dict[str, Any]]:
    """Replay a multi-epoch change stream, resuming past committed epochs.

    Epochs are applied in ascending id order (the reference's dependency-ordered
    schedule, `pipeline_transform_sea_level.py:1787`); epochs ≤ the committed
    watermark are filtered out BEFORE any work happens — the anti-join-vs-produced
    restart of the reference (`pipeline_flows.py:210-221`) done on metadata.
    """
    last = table.last_epoch()
    epoch_ids = sorted(
        r[0] for r in changes.select("epoch").distinct().filter(F.col("epoch") > last).collect()
    )
    out = []
    for e in epoch_ids:
        out.append(
            apply_changes(
                table, changes.filter(F.col("epoch") == e), e, cfg,
                expectations=expectations, fail_on_violation=fail_on_violation,
            )
        )
    return out


def sync_from(
    dest: LakeTable,
    source: LakeTable,
    cfg: EngineConfig = EngineConfig(),
) -> dict[str, Any]:
    """Incrementally replicate ``source`` into ``dest`` via the change data
    feed — the CONSUMER side of the CDC loop (Delta/Iceberg incremental-sync
    analog): downstream tables stay fresh by replaying only what changed, not
    by re-copying state (contrast :meth:`LakeTable.clone`, the full physical
    replica, and :meth:`LakeTable.export_parquet`, the one-shot extract;
    reference analog: the dump/restore refresh of the serving PG,
    `pipeline_load_localPG.py:60-96`, which re-ships everything every time).

    Exactly-once with zero new metadata: progress rides ``dest``'s per-stream
    watermark map under the stream id ``cdf:<source path>`` with the SOURCE
    snapshot version as the epoch id — a crash between CDF read and commit
    re-syncs the same range idempotently, and a re-run after success skips on
    metadata alone. The first sync bootstraps from v1 (the empty create
    snapshot), so the full current state arrives as one insert feed.

    The CDF rows map straight onto the change envelope: delete →
    op 'D' (the source tombstone's (ts, lsn) ride along, so LWW ordering is
    preserved), insert/update_postimage → op 'U'. Requires the sync horizon's
    files to still exist in ``source`` — a vacuum past the last-synced version
    raises (re-bootstrap into a fresh dest, exactly Iceberg's truncated-CDF
    contract).
    """
    import os

    sid = "cdf:" + os.path.realpath(source.path)
    last = dest.last_stream_epoch(sid)
    from_v = 1 if last < 0 else last
    to_v = source.current_version()
    if to_v <= from_v:
        # schema reconciliation must run on the up-to-date path TOO: the
        # watermark-advancing commit happens before the drop mirror below, so
        # a crash between them leaves the replica holding the ghost column
        # until the source commits again — unless recovery converges here.
        mirrored = _mirror_schema_drops(dest, source, to_v)
        return {
            "status": "up_to_date",
            "source_version": to_v,
            "last_synced_version": from_v,
            **({"dropped_columns_mirrored": mirrored} if mirrored else {}),
        }
    # The CDF horizon check runs FIRST: a truncated feed must fail the sync
    # before any DDL touches the replica — otherwise a doomed sync would
    # mutate the replica's schema and then raise, leaving it half-migrated.
    try:
        feed = source.table_changes(from_v, to_v)
    except FileNotFoundError as e:
        raise RuntimeError(
            f"CDF horizon truncated: source snapshot v{from_v} of "
            f"{source.path} was expired (expire_snapshots) — re-bootstrap the "
            "replica (clone) or sync before expiring"
        ) from e
    # Schema DDL replays BEFORE the data apply (and before the watermark
    # advances): a crash mid-mirror re-runs the whole range idempotently on
    # the next sync, so the replica can never end up with the watermark
    # advanced but the DDL missing. RENAMES in particular must replay as
    # renames — a metadata-only rename emits zero CDF rows, and treating it
    # as drop+add would discard the replica's column data for every key the
    # feed doesn't touch.
    ddl_ops = _replay_schema_ops(dest, source, from_v, to_v)
    mirrored = _mirror_schema_drops(dest, source, to_v)
    # Deletes whose source tombstone was GC'd carry the minimal winning stamp
    # straight from the CDF (old row's ts, lsn + 1 — see
    # LakeTable.table_changes), so the feed maps onto the change envelope
    # 1:1: no stamp fabrication here, and later legitimate re-inserts in the
    # source still win LWW downstream.
    batch = (
        feed.withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(F.lit("U")),
        )
        .withColumn("epoch", F.lit(to_v).cast("long"))
        .drop("_change_type")
    )
    manifest = apply_changes(
        dest,
        batch,
        epoch_id=to_v,
        cfg=cfg,
        extra_manifest={"sync_source": source.path, "sync_range": [from_v, to_v]},
        stream_id=sid,
    )
    if mirrored:
        manifest["dropped_columns_mirrored"] = mirrored
    if ddl_ops:
        manifest["schema_ops_replayed"] = ddl_ops
    manifest["synced_range"] = [from_v, to_v]
    return manifest


def _replay_schema_ops(
    dest: LakeTable, source: LakeTable, from_v: int, to_v: int
) -> list[list[str]]:
    """Replay the source's metadata-only schema DDL over the sync range
    ``(from_v, to_v]`` onto the replica, in commit order: ``rename_column``
    replays as a RENAME (the replica's column data survives — file-less
    source commits emit zero CDF rows, so this is the only way the replica
    can learn a rename) and ``drop_column`` as a drop. Idempotent: an op
    whose precondition no longer holds (old name absent / new name present /
    column gone) is skipped, so a crash mid-replay just re-runs."""
    ops: list[list[str]] = []
    for v in range(from_v + 1, to_v + 1):
        try:
            m = source.snapshot_meta(v)
        except FileNotFoundError:
            continue  # expired mid-range (CDF horizon enforcement is below)
        s = m.get("summary") or {}
        op = s.get("operation")
        if op == "rename_column":
            old, new = s.get("renamed", [None, None])
            have = [f.name for f in dest.schema().fields]
            if old in have and new not in have:
                dest.rename_column(old, new)
                ops.append(["rename", old, new])
        elif op == "drop_column":
            c = s.get("column")
            have = [f.name for f in dest.schema().fields]
            if c in have:
                try:
                    dest.drop_column(c)
                    ops.append(["drop", c])
                except ValueError:
                    pass  # protected on the replica — leave it
    return ops


def _source_drop_evidence(source: LakeTable, to_v: int) -> set[str]:
    """Names POSITIVELY known to have been dropped from the source: the
    current snapshot's ``dropped_columns`` tombstones (PHYSICAL names, which
    equal the logical name unless the column was renamed first) plus the
    ``column`` of every surviving ``drop_column`` commit summary (LOGICAL
    name at drop time — exactly what the replica's schema holds)."""
    meta = source.snapshot_meta(to_v)
    evidence = set(meta.get("dropped_columns", []))
    for v in range(1, to_v + 1):
        try:
            s = source.snapshot_meta(v).get("summary") or {}
        except (FileNotFoundError, ValueError, KeyError):
            continue
        if s.get("operation") == "drop_column" and s.get("column"):
            evidence.add(s["column"])
    return evidence


def _mirror_schema_drops(dest: LakeTable, source: LakeTable, to_v: int) -> list[str]:
    """Fallback schema reconciliation for :func:`sync_from`: after the DDL
    replay, a replica column still absent from the source schema is dropped
    ONLY on positive drop evidence (the source's ``dropped_columns``
    tombstones or a surviving ``drop_column`` commit summary — covers a drop
    whose own snapshot expired, and pre-round-4 crash states). Absence with
    NO evidence — the signature of an EXPIRED ``rename_column`` snapshot the
    replay could not see — raises instead of destructively dropping: a
    mirror-drop there would silently discard the replica's column data for
    every key the feed doesn't touch (ADVICE r4 #2). Runs on EVERY sync call
    (including up-to-date ones) so crash recovery converges without new
    source commits."""
    dsnap = dest.snapshot_meta()
    protected = (
        set(dsnap.get("key_cols", KEY_COLS))
        | set(dsnap.get("order_cols", ORDER_COLS))
        | {dsnap.get("key_col", "conv_id"), "_deleted"}
    )
    src_cols = {
        f["name"] for f in source.snapshot_meta(to_v)["schema"]["fields"]
    }
    missing = [
        f.name
        for f in T.StructType.fromJson(dsnap["schema"]).fields
        if f.name not in src_cols and f.name not in protected
    ]
    if not missing:
        return []
    evidence = _source_drop_evidence(source, to_v)
    # tombstones record PHYSICAL names; a replica column that was RENAMED
    # before the source dropped it is missing under its LOGICAL name, so
    # translate through the replica's own column_mapping (it learned the
    # rename when it replayed it) before declaring the drop unexplained
    dmap = dsnap.get("column_mapping") or {}
    unexplained = [
        c for c in missing if c not in evidence and dmap.get(c, c) not in evidence
    ]
    if unexplained:
        raise RuntimeError(
            f"sync_from cannot reconcile replica column(s) {unexplained}: "
            f"absent from the source schema with no surviving drop evidence — "
            "a rename_column snapshot in the sync range was likely expired. "
            "Replay the rename manually (dest.rename_column) or re-bootstrap "
            "the replica (clone); refusing to mirror-drop, which would "
            "discard the replica's data under the old name."
        )
    mirrored = []
    for c in missing:
        dest.drop_column(c)
        mirrored.append(c)
    return mirrored


# --------------------------------------------------------------- predicate DML
DML_STREAM = "dml"


def _expr_parts(node):
    """(op, children) of one JVM expression node, normalized across the two
    trees a predicate can arrive as: a Column's ColumnNode graph
    (``UnresolvedFunction(name, args)``) or a SQL string's parsed catalyst
    tree (``EqualTo``/``In``/``And``/``Or``). Unrecognized → (None, [])."""
    cls = node.getClass().getSimpleName()
    if cls == "UnresolvedFunction":
        fn = node.functionName().lower()
        args = node.arguments()
        ch = [args.apply(i) for i in range(args.size())]
        op = {"and": "and", "or": "or", "=": "eq", "==": "eq", "<=>": "eq",
              "in": "in"}.get(fn)
        return op, ch
    if cls in ("And", "Or", "EqualTo", "EqualNullSafe"):
        op = {"And": "and", "Or": "or", "EqualTo": "eq", "EqualNullSafe": "eq"}[cls]
        ch = node.children()
        return op, [ch.apply(0), ch.apply(1)]
    if cls == "In":
        ch = node.children()
        return "in", [ch.apply(i) for i in range(ch.size())]
    return None, []


def _attr_name(node) -> str | None:
    if node.getClass().getSimpleName() != "UnresolvedAttribute":
        return None
    for accessor in ("name", "unparsedIdentifier"):
        try:
            n = getattr(node, accessor)()
            if isinstance(n, str):
                return n
        except Exception:
            pass
    try:  # ColumnNode UnresolvedAttribute: nameParts: Seq[String]
        parts = node.nameParts()
        return parts.apply(parts.size() - 1)
    except Exception:
        return None


def _lit_value(node):
    if node.getClass().getSimpleName() != "Literal":
        raise ValueError("not a literal")
    v = node.value()
    if v is not None and not isinstance(v, (str, int, float, bool)):
        v = v.toString()  # e.g. catalyst UTF8String
    return v


def _key_values_of(node, key: str) -> list | None:
    """Literal values V such that the predicate IMPLIES ``key ∈ V`` (a
    SUPERSET of the matching keys is returned on AND — pruning may be loose,
    never tight — and None whenever the shape isn't provably key-binding)."""
    op, ch = _expr_parts(node)
    if op == "eq" and len(ch) == 2:
        for a, b in ((ch[0], ch[1]), (ch[1], ch[0])):
            try:
                if _attr_name(a) == key:
                    return [_lit_value(b)]
            except ValueError:
                continue
        return None
    if op == "in" and ch and _attr_name(ch[0]) == key:
        try:
            return [_lit_value(c) for c in ch[1:]]
        except ValueError:
            return None
    if op == "and" and len(ch) == 2:
        # either conjunct binding the key bounds the matching rows from above
        left = _key_values_of(ch[0], key)
        return left if left is not None else _key_values_of(ch[1], key)
    if op == "or" and len(ch) == 2:
        left = _key_values_of(ch[0], key)
        right = _key_values_of(ch[1], key)
        if left is not None and right is not None:
            return left + right
        return None
    return None


def _extract_key_values(table: LakeTable, condition, max_keys: int = 64) -> list | None:
    """Best-effort static analysis: does the DML predicate bind the BUCKETING
    key (equality / IN / boolean combinations)? Returns the bounded value list
    or None (→ full-scan fallback). Purely an optimization — the original
    predicate is always re-applied row-level, so a failed extraction can only
    cost a wider read, never correctness."""
    key = table.key_col()
    try:
        if isinstance(condition, str):
            node = (
                table.spark._jsparkSession.sessionState()
                .sqlParser()
                .parseExpression(condition)
            )
        else:
            node = condition._jc.node()
        vals = _key_values_of(node, key)
    except Exception:
        return None
    if not vals or len(vals) > max_keys or any(v is None for v in vals):
        return None
    try:
        return sorted(set(vals))
    except TypeError:
        return None


def _pruned_matching_rows(table: LakeTable, condition) -> DataFrame:
    """The DML read path, stats/bucket-pruned when the predicate binds the
    bucketing key (the GDPR single-conversation delete): bucket pruning picks
    the keys' buckets from METADATA, per-file key stats prune within them
    (point_lookup-style, lake_table.py:point_lookup) — at 100 TB a single-key
    delete opens one bucket's files instead of every file in the table. The
    general predicate falls back to the full snapshot read; either way the
    original condition is applied row-level, so results are identical."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    keys = _extract_key_values(table, condition)
    if keys is not None:
        # strictly best-effort, as the docstring promises: a literal whose
        # type mismatches the key column (delete_where("conv_id = 5") on a
        # string key) can fail bucket hashing or the stats comparison — any
        # failure here falls back to the full scan, which handles the cast
        # row-level exactly as it always did.
        try:
            key = table.key_col()
            return table.read(
                include_deleted=False,
                buckets=table.buckets_of(keys),
                stats_filters={key: (min(keys), max(keys))},
            ).filter(cond)
        except (TypeError, ValueError, OverflowError):
            pass  # un-coercible literal — the expected best-effort case
        except Exception as e:
            # anything else (missing sidecar, corrupt metadata) is a real
            # fault: still fall back — the full scan either works or fails
            # with the true error — but never swallow the cause silently
            import sys

            print(
                f"WARNING: pruned DML fast path failed unexpectedly "
                f"({e!r}); falling back to full-scan read",
                file=sys.stderr,
            )
    return table.read(include_deleted=False).filter(cond)


def _global_max_lsn(table: LakeTable) -> int:
    """Largest lsn stored in the table, from snapshot METADATA alone when the
    per-file stats carry it (every file written since stats landed does); one
    metadata-pruned agg as the fallback for pre-stats tables."""
    best = None
    for f in table._files_of(table.snapshot_meta()):
        st = (f.get("stats") or {}).get("lsn")
        if st is None:
            best = None
            break  # one stats-less file -> metadata answer would be a lie
        best = st["max"] if best is None else max(best, st["max"])
    if best is not None:
        return int(best)
    row = table.read(include_deleted=True).agg(F.max("lsn")).first()
    return int(row[0]) if row[0] is not None else 0


def _dml_batch(table: LakeTable, condition, assignments: dict | None, op: str):
    """Matching live rows re-emitted as change events that WIN last-writer-wins:
    same ts (so any later real event still supersedes on its own merits),
    lsn = global max + 1 (wins the minor key against every stored version)."""
    lsn = _global_max_lsn(table) + 1
    df = _pruned_matching_rows(table, condition)
    snap = table.snapshot_meta()
    types = {f.name: f.dataType for f in T.StructType.fromJson(snap["schema"]).fields}
    for colname, expr in (assignments or {}).items():
        if colname in set(snap.get("key_cols", KEY_COLS)) | set(
            snap.get("order_cols", ORDER_COLS)
        ):
            raise ValueError(f"cannot assign key/order column {colname!r}")
        # cast to the table's column type: keeps e.g. a bare NULL (void) or an
        # int literal assigned to a long column from tripping schema evolution
        df = df.withColumn(
            colname, expr.cast(types[colname]) if colname in types else expr
        )
    return (
        df.drop("_deleted")
        .withColumn("lsn", F.lit(lsn).cast("long"))
        .withColumn("op", F.lit(op))
    )


def _apply_dml(table: LakeTable, batch_builder, cfg: EngineConfig, retries: int = 4) -> dict[str, Any]:
    """Apply one predicate-DML batch with its own outer retry loop.

    The epoch id AND the batch must both re-derive per attempt: two
    concurrent DML calls race to the same ``last_stream_epoch + 1`` — the
    loser's inner retry would otherwise re-submit the SAME epoch id, see it
    at-or-below the winner's advanced watermark, and be silently SKIPPED
    (a dropped delete/update). And the loser's matching rows / lsn stamp
    were derived from a snapshot the winner just replaced, so the batch is
    rebuilt from scratch too (``batch_builder`` closes over the predicate,
    not the data)."""
    from etl_geo_dem_spark.plans.lake_table import CommitConflict

    for _ in range(retries + 1):
        epoch = table.last_stream_epoch(DML_STREAM) + 1
        try:
            m = apply_changes(
                table,
                batch_builder().withColumn("epoch", F.lit(epoch).cast("long")),
                epoch_id=epoch,
                cfg=cfg,
                stream_id=DML_STREAM,
                extra_manifest={"dml": True},
                retries=0,  # re-derive HERE (fresh epoch + fresh batch), not inside
            )
        except CommitConflict:
            continue
        if m["status"] == "skipped":
            continue  # another DML took this epoch id between read and apply
        return m
    raise CommitConflict(
        f"predicate DML lost the optimistic-concurrency race {retries + 1} times"
    )


def delete_where(table: LakeTable, condition, cfg: EngineConfig = EngineConfig()) -> dict[str, Any]:
    """``DELETE FROM table WHERE condition`` (GDPR-style predicate delete),
    expressed as CDC on the engine's own machinery: matching live rows become
    tombstone events stamped to win LWW, applied through the standard
    exactly-once epoch commit. Deletes therefore compose correctly with
    in-flight CDC (a later real event with a newer (ts, lsn) still
    resurrects the key — the stream remains the source of truth), replicate
    through the change data feed / sync_from, and roll back like any commit.
    Progress rides the dedicated per-stream watermark ``dml`` so predicate
    DML never collides with the WAL's batch epoch numbering.

    Predicates that bind the bucketing key (``F.col('conv_id') == x``,
    ``isin``, OR/AND combinations — or the same as a SQL string) read only
    the matching buckets' stats-pruned files instead of the full snapshot
    (see :func:`_pruned_matching_rows`); any other predicate takes the full
    scan. Results are identical either way."""
    return _apply_dml(table, lambda: _dml_batch(table, condition, None, "D"), cfg)


def update_where(
    table: LakeTable,
    condition,
    assignments: dict,
    cfg: EngineConfig = EngineConfig(),
) -> dict[str, Any]:
    """``UPDATE table SET col = expr WHERE condition`` as CDC: matching rows
    re-emitted with the assignments applied and an lsn that wins LWW (same
    ts — later real events still supersede). Key and order columns cannot be
    assigned (a key change is a delete + insert; order columns are the LWW
    clock). Same exactly-once / CDF / rollback properties as
    :func:`delete_where`."""
    if not assignments:
        raise ValueError("update_where requires at least one assignment")
    return _apply_dml(table, lambda: _dml_batch(table, condition, assignments, "U"), cfg)
