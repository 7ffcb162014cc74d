"""Span tracing for the traced benchmark run (``--trace 1``).

Spans are recorded from the benchmark's side only: :meth:`Tracer.install`
wraps the engine's public entry points (module functions and class methods)
for the lifetime of the run and :meth:`Tracer.uninstall` restores them, so no
engine file changes. Each span records its name, start, end, parent span and
free-form attributes; spans are kept in memory and reduced to per-layer
metrics once the timed part is over.

Spans that can launch Spark jobs also tag them: the span sets the Spark job
group ``pb<span id>``, described by the span's name, on entry and restores
its parent's group on exit, so every job (and through it every stage) read
back from Spark's status REST API maps to the innermost span that submitted
it. :func:`write_spans` writes the spans out when the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

GROUP_PREFIX = "pb"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 1
        self._undo: list[tuple[object, str, object]] = []
        self._names: dict[int, str] = {}
        # spans opened on a thread with an empty stack (the streaming
        # foreachBatch callback thread) hang off the current phase span
        self.phase_id: int | None = None
        self.spans: list[dict] = []

    # ----------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None) -> None:
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", self._names.get(span_id, ""))

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.phase_id
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self._names[sid] = name
        rec = {"id": sid, "parent": parent, "name": name, "attrs": attrs,
               "t0": time.perf_counter(), "t1": None}
        stack.append(sid)
        if tag_jobs:
            self._set_group(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            if tag_jobs:
                self._set_group(stack[-1] if stack else self.phase_id)
            with self._lock:
                self.spans.append(rec)

    # -------------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, tag_jobs: bool = True, on_result=None):
        """Replace ``owner.attr`` with a spanned wrapper. ``on_result(rec,
        result)`` may copy facts from the return value onto the span."""
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, tag_jobs=tag_jobs) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from etl_geo_dem_spark.plans import commit_backend, merge
        from etl_geo_dem_spark.plans.lake_table import LakeTable
        from etl_geo_dem_spark.streaming import ingest

        def merge_result(rec, out):
            rec["attrs"]["status"] = out.get("status")
            rec["attrs"]["input_events"] = out.get("input_events", 0)
            rec["attrs"]["winners"] = out.get("state_rows_touched_buckets", 0)
            rec["attrs"]["phase_sec"] = out.get("phase_sec", {})
            rec["attrs"]["compactions"] = len(out.get("compacted_buckets", []))

        def files_result(rec, out):
            rec["attrs"]["files"] = len(out)
            rec["attrs"]["bytes"] = sum(f["bytes"] for f in out)

        def claim_result(rec, out):
            rec["attrs"]["won"] = bool(out)

        # streaming.ingest imported apply_changes by name: rebind it there too
        self.wrap(merge, "apply_changes", "merge.apply_changes", on_result=merge_result)
        self._undo.append((ingest, "apply_changes", ingest.apply_changes))
        ingest.apply_changes = merge.apply_changes
        for attr, tag, cb in [
            ("write_data_files", True, files_result),
            ("commit", False, None),
            ("snapshot_meta", False, None),
            ("write_epoch_manifest", False, None),
            ("read", True, None),
            ("point_lookup", True, None),
            ("compact_buckets", True, None),
            ("delta_counts", False, None),
        ]:
            self.wrap(LakeTable, attr, f"lake_table.{attr}", tag_jobs=tag, on_result=cb)
        for cls in {type(commit_backend.backend_from_env())}:
            self.wrap(cls, "put_if_absent", "commit_backend.put_if_absent",
                      tag_jobs=False, on_result=claim_result)
            self.wrap(cls, "put_atomic", "commit_backend.put_atomic", tag_jobs=False)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []


# ------------------------------------------------------------ Spark REST API
def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _parse_ts(s: str | None) -> float | None:
    # REST timestamps look like "2024-01-01T00:00:00.123GMT"
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def fetch_spark_metrics(sc, min_job_id: int) -> tuple[list[dict], dict[int, dict]]:
    """Jobs with id > ``min_job_id`` and their stages, from the status REST
    API. Waits for the listener bus to drain so every finished job is in."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    for _ in range(40):
        jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] > min_job_id]
        if not any(j["status"] == "RUNNING" for j in jobs) and not sc.statusTracker().getActiveJobsIds():
            break
        time.sleep(0.25)
    stages = {}
    for s in _get(f"{base}/stages"):
        stages[s["stageId"]] = s  # latest attempt wins
    return jobs, stages


def max_job_id(sc) -> int:
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    time.sleep(0.5)
    return max((j["jobId"] for j in _get(f"{base}/jobs")), default=-1)


# ------------------------------------------------------------------ reduction
def _self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover."""
    iv = sorted((max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["t1"] - span["t0"]) - covered


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def write_spans(path, spans: list[dict]) -> None:
    """Write the spans as JSON lines, each with its self time."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda s: s["t0"]):
            rec = {**s, "self_s": _self_time(s, kids.get(s["id"], []))}
            f.write(json.dumps(rec, default=str) + "\n")


def layer_metrics(spans: list[dict], jobs: list[dict], stages: dict[int, dict],
                  progress: list[dict], table_stats: dict,
                  queries: list[str]) -> dict[str, tuple[float, str]]:
    """Reduce spans + Spark job/stage metrics to the per-layer metrics.
    Metrics of a layer the workload does not use read 0."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def ancestor(sid, name):
        while sid is not None:
            s = by_id.get(sid)
            if s is None:
                return None
            if s["name"] == name:
                return s
            sid = s["parent"]
        return None

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return s["t1"] - s["t0"]

    def job_span(j):
        g = j.get("jobGroup") or ""
        return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit() else None

    def job_secs(j):
        a, b = _parse_ts(j.get("submissionTime")), _parse_ts(j.get("completionTime"))
        return (b - a) if a is not None and b is not None else 0.0

    def stage_sum(js, key):
        return sum(stages[sid].get(key, 0) for j in js for sid in j["stageIds"] if sid in stages)

    merges = [s for s in named("merge.apply_changes") if s["attrs"].get("status") == "committed"]
    n_ep = max(1, len(merges))
    merge_ids = {s["id"] for s in merges}
    jobs_of_merge = [j for j in jobs if (sid := job_span(j)) is not None
                     and (m := ancestor(sid, "merge.apply_changes")) is not None and m["id"] in merge_ids]
    map_stages = [stages[sid] for j in jobs_of_merge for sid in j["stageIds"]
                  if sid in stages and stages[sid].get("shuffleWriteBytes", 0) > 0]

    def under_merge(name):
        return [s for s in named(name) if (m := ancestor(s["parent"], "merge.apply_changes")) is not None
                and m["id"] in merge_ids]

    writes = under_merge("lake_table.write_data_files")
    write_job_s = sum(job_secs(j) for j in jobs if job_span(j) in {w["id"] for w in writes})
    commits_direct = [s for s in named("lake_table.commit") if s["parent"] in merge_ids]
    claims = named("commit_backend.put_if_absent")
    atomics = named("commit_backend.put_atomic")
    puts_in_merge = under_merge("commit_backend.put_if_absent") + under_merge("commit_backend.put_atomic")
    maint = under_merge("lake_table.compact_buckets") + [
        s for s in under_merge("lake_table.delta_counts")
        if ancestor(s["parent"], "lake_table.compact_buckets") is None]

    lookups = named("client.lookup")
    lookup_ids = {s["id"] for s in lookups}
    plans = [s for s in named("lake_table.point_lookup") if s["parent"] in lookup_ids]

    def jobs_under(ids):
        out = []
        for j in jobs:
            sid = job_span(j)
            while sid is not None and sid not in ids:
                sid = by_id[sid]["parent"] if sid in by_id else None
            if sid is not None:
                out.append(j)
        return out

    lookup_jobs = jobs_under(lookup_ids)
    scans = named("client.scan")
    scan_jobs = jobs_under({s["id"] for s in scans})
    n_lk = max(1, len(lookups))
    data_progress = [p for p in progress if "addBatch" in p["durationMs"]]

    def prog(key):
        return _median(p["durationMs"].get(key, 0) for p in data_progress)

    def trig_overhead():
        return _median(p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]
                       for p in data_progress)

    all_stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    all_stages = [stages[s] for s in all_stage_ids if s in stages]
    in_ev = sum(s["attrs"].get("input_events", 0) for s in merges)

    m = {
        "sources.input_bytes": (stage_sum(jobs_of_merge, "inputBytes") / n_ep, "bytes"),
        "sources.input_records": (stage_sum(jobs_of_merge, "inputRecords") / n_ep, "count"),
        "operators.shuffle_write_bytes": (sum(s["shuffleWriteBytes"] for s in map_stages) / n_ep, "bytes"),
        "operators.shuffle_records": (sum(s.get("shuffleWriteRecords", 0) for s in map_stages) / n_ep, "count"),
        "operators.map_run_s": (sum(s.get("executorRunTime", 0) for s in map_stages) / 1000 / n_ep, "s"),
        "operators.winner_ratio": (sum(s["attrs"].get("winners", 0) for s in merges) / max(1, in_ev), "ratio"),
        "merge.apply_s": (_mean(dur(s) for s in merges), "s"),
        "merge.self_s": (_mean(_self_time(s, kids.get(s["id"], [])) for s in merges), "s"),
        "merge.phase_merge_write_s": (_mean(s["attrs"]["phase_sec"].get("merge_write", 0) for s in merges), "s"),
        "merge.phase_commit_s": (_mean(s["attrs"]["phase_sec"].get("commit_and_manifest", 0) for s in merges), "s"),
        "merge.spark_jobs": (len(jobs_of_merge) / n_ep, "count"),
        "merge.spark_tasks": (sum(j.get("numTasks", 0) for j in jobs_of_merge) / n_ep, "count"),
        "merge.commit_attempts": (len(commits_direct) / n_ep, "count"),
        "lake_table.write_files_s": (sum(dur(s) for s in writes) / n_ep, "s"),
        "lake_table.write_driver_s": ((sum(dur(s) for s in writes) - write_job_s) / n_ep, "s"),
        "lake_table.files_written": (sum(s["attrs"].get("files", 0) for s in writes) / n_ep, "count"),
        "lake_table.bytes_written": (sum(s["attrs"].get("bytes", 0) for s in writes) / n_ep, "bytes"),
        "lake_table.commit_s": (_mean(dur(s) for s in commits_direct), "s"),
        "lake_table.snapshot_meta_calls": (len(under_merge("lake_table.snapshot_meta")) / n_ep, "count"),
        "lake_table.epoch_manifest_s": (_mean(dur(s) for s in under_merge("lake_table.write_epoch_manifest")), "s"),
        "lake_table.compact_buckets_s": (sum(dur(s) for s in maint) / n_ep, "s"),
        "lake_table.compactions": (sum(s["attrs"].get("compactions", 0) for s in merges), "count"),
        "lake_table.lookup_plan_ms": (_median(dur(s) for s in plans) * 1000, "ms"),
        "lake_table.lookup_exec_ms": (_median(dur(s) - sum(dur(p) for p in kids.get(s["id"], [])
                                                           if p["name"] == "lake_table.point_lookup")
                                              for s in lookups) * 1000, "ms"),
        "lake_table.lookup_bytes_read": (stage_sum(lookup_jobs, "inputBytes") / n_lk, "bytes"),
        "lake_table.lookup_tasks": (sum(j.get("numTasks", 0) for j in lookup_jobs) / n_lk, "count"),
        "lake_table.scan_bytes_read": (stage_sum(scan_jobs, "inputBytes") / max(1, len(scans)), "bytes"),
        "lake_table.delta_files": (table_stats.get("n_delta_files", 0), "count"),
        "lake_table.manifest_refs": (table_stats.get("n_manifest_refs", 0), "count"),
        "commit_backend.put_if_absent_ms": (_mean(dur(s) for s in claims) * 1000, "ms"),
        "commit_backend.put_atomic_ms": (_mean(dur(s) for s in atomics) * 1000, "ms"),
        "commit_backend.puts_per_epoch": (len(puts_in_merge) / n_ep, "count"),
        "commit_backend.claims_lost": (sum(1 for s in claims if not s["attrs"].get("won", True)), "count"),
        "streaming.trigger_ms": (prog("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (prog("addBatch"), "ms"),
        "streaming.overhead_ms": (trig_overhead(), "ms"),
        "streaming.wal_commit_ms": (prog("walCommit"), "ms"),
        "streaming.latest_offset_ms": (prog("latestOffset"), "ms"),
        "spark.tasks": (sum(s.get("numTasks", 0) for s in all_stages), "count"),
        "spark.executor_run_s": (sum(s.get("executorRunTime", 0) for s in all_stages) / 1000, "s"),
        "spark.gc_s": (sum(s.get("jvmGcTime", 0) for s in all_stages) / 1000, "s"),
        "spark.spill_bytes": (sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                  for s in all_stages), "bytes"),
        "lake_table.scan_ms": (_median(dur(s) for s in scans) * 1000, "ms"),
        "trace.spans": (len(spans), "count"),
    }
    for q in queries:
        m[f"queries.{q}_ms"] = (_median(dur(s) for s in named(f"client.query.{q}")) * 1000, "ms")
    return m
