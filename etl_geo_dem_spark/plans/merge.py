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

Physically, both merge modes run one apply: the batch in state shape with
its storage bucket, folded to one LWW winner per (bucket, key) and written
as one DELTA file per touched bucket, ONE Spark job per epoch (the
touched-bucket set falls out of the written files' metadata). Two engines
run the fold on that one input. A batch that fits the driver
(``fits_driver``: Catalyst's size estimate at most
``lake_table.DRIVER_FOLD_BYTES``, e.g. one streaming trigger) is brought
there by a ``toArrow()``, and the fold and the per-bucket writes run with
pyarrow; a larger one runs ``lake_table.bucket_winners``, the Spark plan
the bucket folds share (docs/PLANS.md).

When the deltas fold into the base (stream–table duality) is one rule,
``_fold_touched``: inside the epoch's own commit, every touched bucket whose
delta-file count, this epoch's included, reaches a threshold folds, with the
same fold as compaction. The merge mode names the threshold: copy-on-write
is 1 (every touched bucket folds, reads are plain scans); merge-on-read is
``max_deltas_per_bucket`` (0 = never), and reads resolve LWW over base ∪
deltas until then. Every epoch is one snapshot. A bucket that no epoch
touches keeps its deltas until ``compact()`` or ``compact_buckets()``.
Untouched buckets' files carry over unchanged.

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

import os
import shutil
import time
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.operators.lww import lww_winners_arrow
from etl_geo_dem_spark.plans.lake_table import (
    BUCKET_COL,
    CommitConflict,
    LakeTable,
    bucket_expr,
    bucket_winners,
    carry_excluding,
    delta_counts_of,
    fits_driver,
    protected_columns,
    retrying_commit,
)

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


def _to_state_shape(
    batch: DataFrame, evolved: T.StructType, *extra: Column
) -> DataFrame:
    """Project change events into internal state shape (tombstone flag set),
    followed by the ``extra`` columns, which are evaluated on ``batch``.

    Columns cast to the EVOLVED type: after a widening evolution the batch may
    be the narrow side (old producer still emitting int32 into a widened-long
    table) — the cast is a no-op when types already agree."""
    cols = []
    for f in evolved.fields:
        if f.name == "_deleted":
            cols.append((F.col("op") == "D").alias("_deleted"))
        elif f.name in batch.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return batch.select(*cols, *extra)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``, planned but not run. For a file
    scan (a streaming micro-batch included) it is the input files' bytes; an
    unknown size reads as ``Long.MaxValue``."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def _fold_touched(
    table: LakeTable,
    snap: dict[str, Any],
    evolved: T.StructType,
    mapping: dict[str, str],
    deltas: list[dict[str, Any]],
    threshold: int,
) -> tuple[list[dict[str, Any]], list[int], str | None]:
    """The fold rule, inside the epoch's commit: each bucket the epoch's
    ``deltas`` touch whose delta-file count (stored in ``snap`` plus this
    epoch's) reaches ``threshold`` (0 = never) folds its new deltas (listed
    first, so a ``(ts, lsn)`` tie goes to the new delivery) and its files in
    ``snap`` into base files under the epoch's uncommitted schema and
    mapping. Returns (files to commit: the base files plus the unfolded
    buckets' deltas, folded buckets, ``"arrow"``/``"spark"`` or None)."""
    counts = delta_counts_of(snap["manifests"])
    for f in deltas:
        counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
    over = {f["bucket"] for f in deltas if 0 < threshold <= counts[f["bucket"]]}
    if not over:
        return deltas, [], None
    folding = [f for f in deltas if f["bucket"] in over]
    kept = [f for f in deltas if f["bucket"] not in over]
    pending = {**snap, "schema": evolved.jsonValue(), "column_mapping": mapping}
    stored = [f for f in table._files_of(snap) if f["bucket"] in over]
    rows, on_driver = table._fold_files(pending, folding + stored, None)
    files = table.write_data_files(
        rows, kind="base", column_mapping=mapping, pre_partitioned=True
    )
    # the folded deltas were never committed: drop their bucket dirs, or the
    # whole commit dir when none of its files is kept
    commit_dir = os.path.dirname(os.path.dirname(deltas[0]["path"]))
    for d in {os.path.dirname(f["path"]) for f in folding} if kept else [commit_dir]:
        shutil.rmtree(d)
    return files + kept, sorted(over), "arrow" if on_driver else "spark"


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

    ``cfg.merge_mode`` only sets the fold threshold for the touched buckets
    in this epoch's commit: 1 for ``"cow"``, ``cfg.max_deltas_per_bucket``
    for ``"mor"`` (module docstring). The manifest's ``compacted_buckets``
    are the buckets folded and ``fold_path`` the fold that ran.

    ``cfg.dedup_strategy`` picks the Spark fold of a batch above the driver
    bound (:func:`~etl_geo_dem_spark.plans.lake_table.bucket_winners`); a
    batch that fits the driver folds with pyarrow whatever it says.

    ``expectations`` are named data-quality predicates over the INPUT events
    (Delta-constraints analog): ``{"ts_set": "ts IS NOT NULL", "known_op":
    F.col("op").isin("I","U","D")}`` — string entries go through ``F.expr``.
    Each becomes a violation flag column of the fold's input, summed in the
    SAME pass as the merge (on the driver's Arrow rows, or as Observation
    metrics of the Spark plan — no extra scan, no extra shuffle); the counts
    land in the epoch manifest under ``expectations``. With
    ``fail_on_violation`` the epoch raises :class:`ExpectationViolation`
    AFTER the delta files are written but BEFORE any fold and the snapshot
    commit, so a bad batch leaves no committed state — only orphan files for
    vacuum. A NULL predicate result counts as a violation (unknown is not
    acceptable).

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
    return retrying_commit(
        lambda: _apply_changes_once(
            table, batch, epoch_id, cfg, extra_manifest, stream_id,
            expectations, fail_on_violation,
        ),
        retries,
    )


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
    last = int(snap["summary"]["epoch_id"])
    watermark = (
        int(snap["stream_watermarks"].get(stream_id, -1))
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
    bucket_key = snap["key_col"]
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
    parent_mapping = dict(snap["column_mapping"])
    tombstoned = set(snap["dropped_columns"])  # PHYSICAL names
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
    # merge keys/ordering come from the table's own metadata (recorded at
    # create() and carried forward by every commit; the snapshot parse fills
    # the engine defaults for pre-metadata snapshots).
    key_cols = snap["key_cols"]
    order_cols = snap["order_cols"]

    # ONE input for both engines: the batch in state shape with its storage
    # bucket and a violation flag per expectation (NULL counts as a
    # violation: unknown is not acceptable). A batch that fits the driver
    # (fits_driver, on Catalyst's size estimate: planned, not run) is brought
    # there by ONE Spark job, the toArrow, and folded by (bucket, key) with
    # pyarrow, which is the bucket writer's order. Larger batches fold with
    # bucket_winners, one Spark job too: no read of current state, and the
    # touched-bucket set falls out of the written files' metadata. Either
    # way the epoch's LWW winners land as one delta file per touched bucket.
    flags = {
        f"_viol_{i}": ~F.coalesce(F.expr(c) if isinstance(c, str) else c, F.lit(False))
        for i, c in enumerate((expectations or {}).values())
    }
    events = _to_state_shape(
        batch, evolved, *[c.alias(n) for n, c in flags.items()]
    ).withColumn(BUCKET_COL, bucket_expr(bucket_key, n_buckets))
    on_driver = fits_driver(_estimated_bytes(batch))
    t_write0 = time.time()
    if on_driver:
        import pyarrow.compute as pc

        rows = events.toArrow()
        input_events = rows.num_rows
        sums = {f: pc.sum(rows[f]).as_py() for f in flags}
        winners = lww_winners_arrow(
            rows.drop_columns(list(flags)), [BUCKET_COL, *key_cols], order_cols
        )
    else:
        obs = Observation(f"epoch_{epoch_id}_in")
        observed = events.observe(
            obs,
            F.count(F.lit(1)).alias("events"),
            *[F.sum(F.col(f).cast("long")).alias(f) for f in flags],
        )
        winners = bucket_winners(
            observed.drop(*flags), key_cols, order_cols, cfg.dedup_strategy
        )
    new_files = table.write_data_files(
        winners, kind="delta", column_mapping=new_mapping, pre_partitioned=True
    )
    if not on_driver:
        input_events = _obs_value(obs, "events")
        sums = {f: _obs_value(obs, f) for f in flags}
    # a sum over an EMPTY batch is NULL (and an optimized-away plan has no
    # metrics at all): both mean zero violations, not a crash in the gate
    exp_counts = {
        name: int(sums[f] or 0) for name, f in zip(expectations or {}, flags)
    }
    t_plan = t_write0 - t0
    touched = sorted({f["bucket"] for f in new_files})
    if fail_on_violation and any(v > 0 for v in exp_counts.values()):
        bad = {k: v for k, v in exp_counts.items() if v > 0}
        raise ExpectationViolation(
            f"epoch {epoch_id}: data-quality expectations violated {bad} — "
            "snapshot NOT committed (written files are orphans; vacuum reaps)"
        )
    # merge_mode names the fold threshold; folded buckets' stored refs
    # leave the commit by metadata exclusion (carry_excluding)
    new_files, compacted_buckets, fold_path = _fold_touched(
        table, snap, evolved, new_mapping, new_files,
        1 if cfg.merge_mode == "cow" else cfg.max_deltas_per_bucket,
    )
    t_write = time.time() - t_write0
    version = table.commit(
        carry=carry_excluding(snap["manifests"], compacted_buckets),
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
            else {**snap["stream_watermarks"], stream_id: epoch_id}
        ),
        column_mapping=new_mapping,
    )

    manifest = {
        "epoch_id": epoch_id,
        "stream_id": stream_id,
        "status": "committed",
        "snapshot_version": version,
        "input_events": input_events,
        "state_rows_touched_buckets": sum(f["rows"] for f in new_files),
        "touched_buckets": touched,
        "n_touched": len(touched),
        "schema_evolved": new_cols,
        "schema_widened": widened_cols,
        "expectations": exp_counts,
        "merge_mode": cfg.merge_mode,
        "compacted_buckets": compacted_buckets,
        "fold_path": fold_path,
        "dedup_strategy": cfg.dedup_strategy,
        "apply_path": "arrow" if on_driver else "spark",
        "lineage": _bucket_lineage(new_files),
        "duration_sec": round(time.time() - t0, 3),
        "phase_sec": {
            "plan": round(t_plan, 3),
            "merge_write": round(t_write, 3),
            "commit_and_manifest": round(time.time() - t0 - t_plan - t_write, 3),
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
        s = m["summary"]
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
    evidence = set(meta["dropped_columns"])
    for v in range(1, to_v + 1):
        try:
            s = source.snapshot_meta(v)["summary"]
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
    protected = protected_columns(dsnap)
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
    dmap = dsnap["column_mapping"]
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
        if colname in set(snap["key_cols"]) | set(snap["order_cols"]):
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
