"""The repository benchmark: live-tail ingest and reads of one lake table.

Run from the repository root::

    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[nproc]``, one closed-loop client.
Each workload builds its inputs from ``--seed`` during set-up (written as
parquet; the engine only ever reads those files), then repeats its operation
until ``--seconds`` have passed:

- ``tail``: ``streaming.ingest.start_cdc_ingest`` with ``availableNow`` and
  ``maxFilesPerTrigger=1`` over 12k-event WAL segments, one micro-batch per
  segment, in rounds of five segments, continuing a merge-on-read table that
  set-up built from three segments through the same path;
- ``serve``: ``LakeTable.point_lookup`` on a merge-on-read table with 4-deep
  delta chains (half hot keys, 40% cold, 10% absent); every 20 lookups a full
  scan and every 3 lookups the next registry query over seeded tables, until
  each query has run once.

Both report the same end-to-end metrics (BENCHMARK.json), in CPU time of this
process and the driver JVM; the wall-clock figures are printed and are the
per-layer ``wall.*``. What a workload's operation and item are, and which
end-to-end metric each per-layer metric should move, is in
``perfbench/layers.json``. Afterwards an
independent DuckDB oracle (``perfbench/oracle.py``) checks every output. The
last stdout line is one JSON object: end-to-end metrics with ``--trace 0``;
with ``--trace 1`` the timed part runs twice on fresh state, untraced then
traced (``perfbench/tracing.py``), and the per-layer metrics come from the
traced pass, with the tracing overhead as the difference between the two.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SPANS = ROOT / ".perfbench_spans"  # the traced run's spans, kept after it ends
TURNS_PER_CONV = 50
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


# Sizes per workload; "toy" is for the benchmark's own test.
SIZES = {
    "full": {
        "tail": {"prebuilt": 3, "segments": 25, "round": 5, "events": 12_000, "n_conv": 4_000},
        "serve": {"epochs": 4, "events": 50_000, "n_conv": 4_000, "scan_every": 20,
                  "query_every": 3, "analytics_rows": 20_000},
    },
    "toy": {
        "tail": {"prebuilt": 2, "segments": 4, "round": 2, "events": 1_000, "n_conv": 100},
        "serve": {"epochs": 2, "events": 2_000, "n_conv": 100, "scan_every": 3,
                  "query_every": 1, "analytics_rows": 2_000},
    },
}
# The registry queries whose inputs the benchmark can generate (events,
# orders and the dimension tables); the text and vector queries of the
# registry need corpora it cannot make.
QUERIES = [
    "zz_cdc_lww_latest_agg",
    "zz_cdc_lww_latest_salted",
    "cdc_epoch_lineage_metrics",
    "join_broadcast_dims",
    "join_neighbourhood_window",
    "agg_class_percentage",
    "window_topk_per_group",
]


def host_sizing() -> dict:
    """Spark sized from this host, not bench.py's fixed ``local[32]`` and
    64 GB driver: more task threads than cores only queue behind each other,
    and a heap larger than the host's memory gets the process killed. Each
    run reports what it measured; bench.py's best-of-k would report the
    luckiest run and hide the run-to-run spread that a median over many runs
    accounts for."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")) // 1024
    return {
        "nproc": nproc,
        "mem_mb": mem_mb,
        # a quarter of the host, within [1, 8] GB: the JVM's RSS runs well
        # above its heap, and the host may be shared
        "driver_heap_mb": max(1024, min(8192, mem_mb // 4)),
        "shuffle_partitions": 2 * nproc,
    }


def start_spark(host: dict, trace: bool):
    from etl_geo_dem_spark.session import get_spark

    local, tmp = WORK / "spark-local", WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # keep every scratch file of the JVM and of Python inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(
        master=f"local[{host['nproc']}]",
        app_name="perfbench",
        shuffle_partitions=host["shuffle_partitions"],
        driver_memory=f"{host['driver_heap_mb']}m",
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        return next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024


def host_cpu_times() -> list[int]:
    """The host's CPU counters (user, nice, system, idle, ..., steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def proc_cpu_ms() -> float:
    """CPU time this process and the driver JVM have used so far, in ms. The
    kernel accounts most of the time the hypervisor gave to other guests
    (steal) apart from it."""
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
        jvm = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return ((int(jvm[11]) + int(jvm[12])) * 1000 / os.sysconf("SC_CLK_TCK")
            + (t.user + t.system) * 1000)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ------------------------------------------------------------------ inputs
def write_changes(spark, dest: Path, *, seed: int, epochs: int, events: int,
                  n_conv: int) -> list[str]:
    """Write ``epochs`` seeded WAL epochs of ``events`` change events each,
    plus duplicate deliveries, one parquet file per epoch; returns the files
    in epoch order. Every epoch carries the additive ``tool_args`` column."""
    from pyspark.sql import functions as F

    from etl_geo_dem_spark.sources.changes import generate_changes

    df = generate_changes(
        spark, epochs * events, n_conv=n_conv, turns_per_conv=TURNS_PER_CONV,
        n_epochs=epochs, seed=seed, evolve_from_epoch=0,
        n_partitions=spark.sparkContext.defaultParallelism,
    )
    (df.withColumn("part", F.col("epoch")).repartition(epochs, "part")
        .write.partitionBy("part").parquet(str(dest)))
    files = []
    for e in range(epochs):
        (f,) = glob.glob(str(dest / f"part={e}" / "*.parquet"))
        files.append(f)
    return files


def write_query_tables(dest: Path, seed: int, n: int) -> None:
    """Seeded stand-ins for the registry's ``events``, ``orders``,
    ``customer``, ``nation`` and ``region`` tables: the same columns and
    types, ``n`` events and 1.5 ``n`` orders."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    dest.mkdir(parents=True)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    day_us = 86_400 * 1_000_000

    def write(name, cols):
        pq.write_table(pa.table(cols), dest / f"{name}.parquet")

    write("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": t0 + rng.integers(0, 30 * day_us, n).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n // 66), n, dtype=np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    write("region", {"r_regionkey": np.arange(5, dtype=np.int64),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int64),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    n_cust, n_ord = max(1, n // 7), n * 3 // 2
    write("customer", {"c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                       "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int64)})
    write("orders", {
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n_ord), 2),
        "o_orderdate": t0 + (rng.integers(0, 2_400, n_ord) * day_us).astype("timedelta64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                      n_ord),
    })


def lookup_keys(n_conv: int, seed: int, n: int) -> list[str]:
    """Half hot keys, 40% cold and 10% never written, in that exact mix
    within every block of ten lookups (shuffled), so that every prefix of the
    sequence a run gets through has nearly the same mix."""
    rng = random.Random(seed * 1_000_003 + 17)
    n_hot = max(1, int(n_conv * 0.01))  # generate_changes' hot_frac
    keys: list[str] = []
    while len(keys) < n:
        block = ([rng.randrange(n_hot) for _ in range(5)]
                 + [rng.randrange(n_hot, n_conv) for _ in range(4)]
                 + [n_conv + rng.randrange(n_conv)])
        rng.shuffle(block)
        keys.extend(f"conv_{k:06d}" for k in block)
    return keys[:n]


def _ts_us(dt) -> int | None:
    return None if dt is None else int(dt.timestamp()) * 1_000_000 + dt.microsecond


def _row_tuple(r) -> tuple:
    return (r["turn_idx"], r["role"], r["text"], r["tool"], _ts_us(r["ts"]), r["tool_args"])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cfg():
    from etl_geo_dem_spark.config import EngineConfig

    return EngineConfig(merge_mode="mor")  # every other knob at its default


def build_table(spark, path: Path, files: list[str]):
    """A merge-on-read table with one ``apply_changes`` epoch per WAL file."""
    from etl_geo_dem_spark.plans.lake_table import LakeTable
    from etl_geo_dem_spark.plans.merge import apply_changes
    from etl_geo_dem_spark.schemas import CHANGE_EVOLVED_SCHEMA, STATE_SCHEMA

    table = LakeTable.create(spark, str(path), STATE_SCHEMA)
    for e, f in enumerate(files):
        apply_changes(table, spark.read.schema(CHANGE_EVOLVED_SCHEMA).parquet(f), e, _cfg())
        log(f"applied epoch {e}")
    return table


def check_table(table, files: list[str], corrupt: bool) -> bool:
    """The table's public rows equal the DuckDB LWW fold over ``files``."""
    from oracle import Oracle

    oracle = Oracle(files)
    try:
        actual = table.read_public().toArrow()
        if corrupt:
            actual = actual.slice(0, max(0, actual.num_rows - 1))
        return oracle.check_table(actual)
    finally:
        oracle.close()


# --------------------------------------------------------------- workloads
class Pass:
    """What one timed pass of a workload did."""

    def __init__(self):
        self.op_ms: list[float] = []  # wall-clock latency of each operation
        self.op_cpu_ms: list[float] = []  # CPU time of each operation
        self.items = 0  # items done in the pass
        self.seconds = 0.0  # the wall-clock time those items took
        self.cpu_s = 0.0  # the CPU time those items took
        self.errors: list[str] = []
        self.extra: dict = {}  # facts for the oracle and the trace


class Tail:
    """Live tail: one micro-batch per ~12k-event WAL segment."""

    op = "streaming trigger"

    def __init__(self, spark, size: dict, seed: int):
        self.spark, self.size, self.seed = spark, size, seed

    def setup(self) -> None:
        from etl_geo_dem_spark.plans.lake_table import LakeTable
        from etl_geo_dem_spark.schemas import STATE_SCHEMA

        s = self.size
        files = write_changes(self.spark, WORK / "wal", seed=self.seed,
                              epochs=s["prebuilt"] + s["segments"], events=s["events"],
                              n_conv=s["n_conv"])
        self.prebuilt, self.segments = files[:s["prebuilt"]], files[s["prebuilt"]:]
        log("wrote the WAL")
        # the table the tail continues, built by the same streaming path so
        # that the timed part starts with it warm
        self.base = LakeTable.create(self.spark, str(WORK / "tail-base"), STATE_SCHEMA)
        self._stream(self.base, WORK / "tail-prebuilt", self.prebuilt)

    def _stream(self, table, root: Path, files: list[str]) -> tuple[list[dict], str | None]:
        """Feed ``files`` to one availableNow query on ``table`` (state under
        ``root``) and wait for it; returns its data batches' progress and
        the error, if the query failed."""
        from etl_geo_dem_spark.schemas import CHANGE_EVOLVED_SCHEMA
        from etl_geo_dem_spark.streaming.ingest import start_cdc_ingest

        src = root / "src"
        src.mkdir(parents=True, exist_ok=True)
        n = len(list(src.iterdir()))
        mtime0 = time.time() - 10 * (n + len(files))
        for i, f in enumerate(files):
            # each new segment is the newest file of the source directory
            dst = src / f"seg-{n + i:05d}.parquet"
            shutil.copyfile(f, dst)
            os.utime(dst, (mtime0 + 10 * (n + i),) * 2)
        q = start_cdc_ingest(self.spark, table, str(src), CHANGE_EVOLVED_SCHEMA,
                             str(root / "checkpoint"), cfg=_cfg(),
                             max_files_per_trigger=1, available_now=True)
        err = None
        try:
            q.awaitTermination()
        except Exception as exc:
            err = repr(exc)
        progress = [x for x in (json.loads(y.json) for y in q.recentProgress)
                    if "addBatch" in x["durationMs"]]
        return progress, err

    def run(self, tag: str, deadline: float, span) -> Pass:
        p = Pass()
        root = WORK / tag
        table = self.base.clone(str(root / "table"))
        fed: list[str] = []
        progress: list[dict] = []
        # availableNow rounds of a few segments each, so that the pass can
        # stop at the deadline between rounds
        r = self.size["round"]
        for i in range(0, len(self.segments), r):
            if i and time.perf_counter() >= deadline:
                break
            fed += self.segments[i:i + r]
            with span("client.round"):
                c0 = proc_cpu_ms()
                batches, err = self._stream(table, root, self.segments[i:i + r])
                cpu_ms = proc_cpu_ms() - c0
            progress += batches
            # the triggers of a round share the CPU time of the round
            p.op_cpu_ms += [cpu_ms / len(batches)] * len(batches) if batches else []
            p.cpu_s += cpu_ms / 1000
            if err:
                p.errors.append(f"stream round {i // r}: {err}")
        for x in progress:
            p.op_ms.append(float(x["durationMs"]["triggerExecution"]))
            p.items += x["numInputRows"]
        p.seconds = sum(p.op_ms) / 1000
        p.extra = {"table": table, "files": self.prebuilt + fed, "progress": progress}
        return p

    def check(self, p: Pass, corrupt: bool) -> int:
        """Failed operations: segments not applied, or all of them if the
        final table is wrong (it is the only check of each micro-batch)."""
        fed = len(p.extra["files"]) - len(self.prebuilt)
        if not check_table(p.extra["table"], p.extra["files"], corrupt):
            print("oracle: tail table differs from the DuckDB LWW fold", file=sys.stderr)
            return fed
        return max(0, fed - len(p.op_ms))

    def attempted(self, p: Pass) -> int:
        return len(p.extra["files"]) - len(self.prebuilt)


class Serve:
    """Reads: point lookups, with full scans and registry queries mixed in."""

    op = "point_lookup"

    def __init__(self, spark, size: dict, seed: int):
        self.spark, self.size, self.seed = spark, size, seed

    def setup(self) -> None:
        from etl_geo_dem_spark.queries import REGISTRY

        s = self.size
        self.files = write_changes(self.spark, WORK / "wal", seed=self.seed, epochs=s["epochs"],
                                   events=s["events"], n_conv=s["n_conv"])
        log("wrote the WAL")
        # below the compaction threshold: every bucket keeps its whole chain
        self.table = build_table(self.spark, WORK / "serve-table", self.files)
        log("built the table")
        self.keys = lookup_keys(s["n_conv"], self.seed, 100_000)
        self.dir = WORK / "query-tables"
        write_query_tables(self.dir, self.seed, s["analytics_rows"])
        self.queries = {n: REGISTRY[n] for n in QUERIES}
        # warm the read paths: the first run of each plan pays for the JIT
        self.table.point_lookup(self.keys[0]).collect()
        _noop(self.table.read_public())
        for q in self.queries.values():
            _noop(q.fn(self.spark, str(self.dir)))
        log("warmed the read paths")

    def run(self, tag: str, deadline: float, span) -> Pass:
        p = Pass()
        lookups: list[tuple[str, list | None]] = []
        names = list(self.queries)
        results: list[tuple[str, list[str], list[tuple]]] = []
        n_scans = n_queries = 0
        t_start, c_start = time.perf_counter(), proc_cpu_ms()
        # stop at the deadline, but only once every query has run
        for i, k in enumerate(self.keys):
            if n_queries >= len(names) and time.perf_counter() >= deadline:
                break
            with span("client.lookup"):
                t0, c0 = time.perf_counter(), proc_cpu_ms()
                try:
                    rows = [_row_tuple(r) for r in self.table.point_lookup(k).collect()]
                except Exception as exc:
                    p.errors.append(f"lookup {k}: {exc!r}")
                    rows = None
                p.op_ms.append((time.perf_counter() - t0) * 1000)
                p.op_cpu_ms.append(proc_cpu_ms() - c0)
            lookups.append((k, rows))
            if (i + 1) % self.size["scan_every"] == 0:
                n_scans += 1
                with span("client.scan"):
                    try:
                        _noop(self.table.read_public())
                    except Exception as exc:
                        p.errors.append(f"scan: {exc!r}")
            if (i + 1) % self.size["query_every"] == 0:
                name = names[n_queries % len(names)]
                n_queries += 1
                with span(f"client.query.{name}"):
                    try:
                        df = self.queries[name].fn(self.spark, str(self.dir))
                        results.append((name, df.columns, [tuple(r) for r in df.collect()]))
                    except Exception as exc:
                        p.errors.append(f"query {name}: {exc!r}")
        p.seconds = time.perf_counter() - t_start
        p.cpu_s = (proc_cpu_ms() - c_start) / 1000
        p.items = len(lookups) + n_scans + n_queries
        p.extra = {"lookups": lookups, "scans": n_scans, "queries": n_queries,
                   "results": results}
        return p

    def check(self, p: Pass, corrupt: bool) -> int:
        """Failed reads: lookups that differ from the oracle's rows for the
        key; every scan if the table differs; every query result that
        differs from the query's ``oracle_sql`` run by DuckDB."""
        from oracle import Oracle, same_result

        import duckdb

        failed = 0
        if not check_table(self.table, self.files, corrupt):
            print("oracle: served table differs from the DuckDB LWW fold", file=sys.stderr)
            failed += p.extra["scans"]
        oracle = Oracle(self.files)
        try:
            lookups = p.extra["lookups"]
            expected = oracle.rows_for([k for k, _ in lookups])
            for i, (k, rows) in enumerate(lookups):
                if rows is None:
                    continue  # already counted as an error
                got = sorted(rows)
                if corrupt and i == 0:
                    got = got[1:] if got else [(0, "x", "x", None, 0, None)]
                if got != expected[k]:
                    print(f"oracle: lookup {k} differs", file=sys.stderr)
                    failed += 1
        finally:
            oracle.close()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("events", "orders", "customer", "nation", "region"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir / t}.parquet'")
            for j, (name, cols, got) in enumerate(p.extra["results"]):
                if corrupt and j == 0:
                    got = got[1:]
                cur = con.execute(self.queries[name].oracle)
                want = cur.fetchall()
                if [d[0] for d in cur.description] != cols or not same_result(got, want):
                    print(f"oracle: query {name} differs", file=sys.stderr)
                    failed += 1
        finally:
            con.close()
        return failed

    def attempted(self, p: Pass) -> int:
        return p.items


WORKLOADS = {"tail": Tail, "serve": Serve}


# ------------------------------------------------------------------- main
def e2e_metrics(p: Pass) -> dict[str, tuple[float, str, int]]:
    """The end-to-end metrics of one pass: (value, unit, sample count). They
    count CPU time, not wall-clock time: on a shared host the hypervisor's
    steal moved wall-clock medians by 25-40% between runs of the same code,
    CPU time by about 10%."""
    return {
        "op_cpu_ms": (median(p.op_cpu_ms), "ms", len(p.op_cpu_ms)),
        "items_per_cpu_s": (p.items / p.cpu_s if p.cpu_s else 0.0, "1/s", p.items),
    }


def wall_metrics(p: Pass) -> dict[str, tuple[float, str, int]]:
    """The wall-clock counterparts of :func:`e2e_metrics`."""
    return {
        "wall.op_p50_ms": (median(p.op_ms), "ms", len(p.op_ms)),
        "wall.items_per_s": (p.items / p.seconds if p.seconds else 0.0, "1/s", p.items),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="toy: tiny inputs, for the benchmark's own test")
    ap.add_argument("--corrupt", action="store_true",
                    help="tamper with the results before the oracle sees them "
                         "(checks that the oracle catches it)")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import etl_geo_dem_spark.plans.merge  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its dependencies: {exc}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"  # Python's datetimes must agree with the session's
    time.tzset()

    host = host_sizing()
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    spark = start_spark(host, bool(args.trace))
    try:
        return _bench(spark, host, args, t_start)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)


def _bench(spark, host: dict, args, t_start: float) -> int:
    import pyspark

    sc = spark.sparkContext
    t_session = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, SIZES[args.size][args.workload], args.seed)
    wl.setup()
    setup_s = time.perf_counter() - t_start

    def timed(tag: str, span) -> Pass:
        return wl.run(tag, time.perf_counter() + args.seconds, span)

    log("set-up done")
    c0 = host_cpu_times()
    p = timed("pass0", lambda name: nullcontext())
    d = [b - a for a, b in zip(c0, host_cpu_times())]
    steal_pct = 100 * d[7] / sum(d) if sum(d) else 0.0
    log("timed pass done")
    passes = [p]
    layer = {}
    if args.trace:
        from tracing import Tracer, fetch_spark_metrics, layer_metrics, max_job_id, write_spans

        tracer = Tracer(sc)
        tracer.install()
        try:
            min_job = max_job_id(sc)
            with tracer.span(f"pass.{args.workload}") as rec:
                tracer.phase_id = rec["id"]
                traced = timed("pass1", tracer.span)
            tracer.phase_id = None
            jobs, stages = fetch_spark_metrics(sc, min_job)
            SPANS.mkdir(exist_ok=True)
            write_spans(SPANS / f"{args.workload}-seed{args.seed}.jsonl", tracer.spans)
            stats = traced.extra["table"].table_metrics() if "table" in traced.extra \
                else wl.table.table_metrics()
        finally:
            tracer.uninstall()
        passes.append(traced)
        layer = layer_metrics(tracer.spans, jobs, stages, traced.extra.get("progress", []),
                              stats, QUERIES)
        untraced, traced_m = e2e_metrics(p), e2e_metrics(traced)
        # how much costlier the traced pass was, in % of the untraced pass
        for name, sign in (("op_cpu_ms", 1), ("items_per_cpu_s", -1)):
            base = untraced[name][0]
            layer[f"trace.overhead_{name}_pct"] = (
                sign * 100 * (traced_m[name][0] - base) / base if base else 0.0, "%")
    rss_mb = jvm_peak_rss_mb()

    attempted = sum(wl.attempted(x) for x in passes) or 1
    failed = min(attempted, sum(len(x.errors) + wl.check(x, args.corrupt) for x in passes))
    log("oracle done")

    e2e = {"setup_s": (setup_s, "s", 1), **e2e_metrics(p)}
    wall = wall_metrics(p)
    print(f"host nproc={host['nproc']} mem_mb={host['mem_mb']} "
          f"driver_heap_mb={host['driver_heap_mb']} shuffle_partitions={host['shuffle_partitions']} "
          f"spark={pyspark.__version__} java={spark._jvm.System.getProperty('java.version')} "
          f"python={sys.version.split()[0]}")
    counts = " ".join(f"{k}={v}" for k, v in p.extra.items() if isinstance(v, int))
    print(f"{args.workload} seed={args.seed} op='{wl.op}' attempted={attempted} failed={failed} "
          f"failed_ratio={failed / attempted:.4f} session_s={t_session - t_start:.3f} "
          f"timed_s={p.seconds:.3f} jvm_peak_rss_mb={rss_mb:.1f} host_steal_pct={steal_pct:.2f} "
          f"{counts}")
    for name, (v, unit, n) in {**e2e, **wall}.items():
        print(f"{args.workload} {name} {v:.6g} {unit} (n={n})")
    print(f"{args.workload} op_ms {[round(x) for x in p.op_ms]}")
    print(f"{args.workload} op_cpu_ms {[round(x) for x in p.op_cpu_ms]}")
    for x in passes:
        for err in x.errors:
            print(f"error: {err}", file=sys.stderr)

    if args.trace:
        layer["jvm.peak_rss_mb"] = (rss_mb, "MB")
        layer["host.steal_pct"] = (steal_pct, "%")
        layer.update({k: (v, u) for k, (v, u, _) in wall.items()})
        metrics = layer
    else:
        metrics = {k: (v, u) for k, (v, u, _) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
