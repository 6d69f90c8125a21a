"""Spark workloads: the headline queries and the schema-only catalog sweep.

Every layer is timed from outside, around the benchmark's own calls into
the program's public functions (``session.get_session``, ``tables.load``,
each ``q_*`` builder, the action on its DataFrame). In traced runs, Spark's
job groups and status store are read around those calls.
"""

from __future__ import annotations

import os
import random
import signal
import statistics
import subprocess
import threading
import time

import bench_lib as B


def configure_env(root: str, work: str, cpus: int) -> None:
    """Pin the run configuration before the JVM starts: local[cpus],
    workers that import the program from any cwd, and scratch files kept
    inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # -UsePerfData: no hsperfdata files in the system temp dir.
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        "pyspark-shell"
    )


def start_session():
    """``session.get_session`` in this process. Returns (spark, seconds)."""
    from gasket_rs_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session("gasket-perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0


def stop_session(spark, graceful: bool = True) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of them has exited. Not graceful: kill them outright."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = B.process_tree(proc.pid) if proc is not None else []
    if graceful:
        spark.stop()
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            graceful = False
    if not graceful:
        for pid in tree:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    st = B.stat_fields(pid)
    return st is not None and st[0] != "Z"


class RssSampler:
    """Peak RSS of this process tree (the JVM and Python workers included),
    sampled every ``period`` seconds on a daemon thread."""

    def __init__(self, period: float = 0.25):
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, B.tree_rss_bytes(B.process_tree(os.getpid())))

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak / 2**20


class CpuMeter:
    """Co-tenant reading for one pass: host CPU busy minus this process
    tree's CPU, in cores (bench.py's external-CPU reading, restricted to
    the benchmark's own tree)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0 = B.host_busy_s()
        self.own0 = self.own()

    @staticmethod
    def own() -> float:
        return sum(B.proc_cpu_s(p) for p in B.process_tree(os.getpid()))

    def external_cores(self) -> float:
        dt = max(time.perf_counter() - self.t0, 1e-9)
        ext = (B.host_busy_s() - self.busy0) - (self.own() - self.own0)
        return max(ext, 0.0) / dt


def python_worker_cpu_s() -> float:
    """CPU of the pyspark daemon and worker processes under this process."""
    return sum(
        B.proc_cpu_s(p)
        for p in B.process_tree(os.getpid())[1:]
        if "pyspark" in B.cmdline(p) and ("daemon" in B.cmdline(p) or "worker" in B.cmdline(p))
    )


# -- Spark status readings ------------------------------------------------------


STAGE_KEYS = (
    "jobs", "stages", "tasks", "single_task_stages", "failed_tasks",
    "task_run_s", "task_cpu_s", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes", "gc_s",
)


class JobReader:
    """Jobs, stages and task metrics of one job group, from Spark's
    status tracker and status store (read after the listener bus drains)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.n = 0

    def group(self) -> str:
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, gid, False)
        return gid

    def read(self, gid: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(gid))
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            for sd in _seq(self.store.stageData(sid, False, None, False, None)):
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["single_task_stages"] += 1 if sd.numTasks() == 1 else 0
                out["failed_tasks"] += sd.numFailedTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def block_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo())


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


# -- correctness ----------------------------------------------------------------


def duckdb_views(con, sf_dir: str) -> None:
    """One view per table; a table stored as a directory of part files
    (as sf1's are) is read through a glob."""
    from gasket_rs_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def spark_digest(df) -> tuple[int, str]:
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    return len(rows), B.rows_digest(cols, rows)


def oracle_digest(con, sql: str) -> tuple[int, str]:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return len(rows), B.rows_digest(cols, rows)


# -- headline workload ------------------------------------------------------------


def headline(spark, sf_dir: str, pins: dict, seed: int, seconds: float, trace: bool,
             tracer: B.Tracer, log, catalog_dir: str, catalog_names: list[str]) -> dict:
    import duckdb

    from gasket_rs_spark import registry

    queries, oracles = registry.collect_raw()
    module = {q: B.short_module(queries[q].__module__) for q in B.HEADLINE}
    family = B.family_of(module)
    order = list(B.HEADLINE)
    random.Random(seed).shuffle(order)
    attempted = failed = 0

    # Untimed warm pass; it also collects every result for the output check.
    got: dict[str, tuple] = {}
    t0 = time.perf_counter()
    for q in order:
        attempted += 1
        try:
            got[q] = spark_digest(queries[q](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — a raising query is a failure
            log(f"FAIL {q}: {type(exc).__name__}: {exc}")
            failed += 1
    warm_pass_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    con = duckdb.connect()
    duckdb_views(con, sf_dir)
    for q, digest in got.items():
        want = oracle_digest(con, oracles[q]) if q in oracles else tuple(pins[q])
        if digest != want:
            log(f"FAIL {q}: got {digest}, want {want}")
            failed += 1
    con.close()
    oracle_s = time.perf_counter() - t0

    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        settle(spark)
        p = timed_pass(spark, sf_dir, queries, order, module, None, None)
        attempted += len(order)
        failed += p.pop("failed")
        passes.append(p)

    build = {q: statistics.median(p["build"].get(q, 0.0) for p in passes) for q in order}
    execd = {q: statistics.median(p["exec"].get(q, 0.0) for p in passes) for q in order}
    query_s = {q: build[q] + execd[q] for q in order}
    res = {
        "attempted": attempted,
        "failed": failed,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
        "warmup_s": warm_pass_s,
        "op_samples_ms": [1e3 * v for v in query_s.values()],
        "detail": {
            "order": order,
            "passes": len(passes),
            "warm_pass_s": warm_pass_s,
            "oracle_check_s": oracle_s,
            "pass_s_each": [p["pass_s"] for p in passes],
            "external_cores_each": [p["external_cores"] for p in passes],
            "python_worker_cpu_s_each": [p["python_cpu_s"] for p in passes],
            "build_s": sum(build.values()),
            "exec_s": sum(execd.values()),
            **{
                f"{f}_s": sum(query_s[q] for q in order if family[q] == f)
                for f in B.FAMILY_MODULES
            },
            "query_s": query_s,
        },
    }
    if trace:
        settle(spark)
        reader = JobReader(spark)
        with tracer.span("pass") as root:
            tp = timed_pass(spark, sf_dir, queries, order, module, tracer, reader)
        failed += tp.pop("failed")
        res["failed"] = failed
        res["trace"] = trace_summary(
            tracer, root.record["id"], tp, res["pass_s"], spark)
        res["trace"].update(probe_tables(spark, sf_dir, reader))
        # Builders of all 20 modules: one traced sweep of the catalog sample,
        # whose per-module build times and jobs add to the headline pass's.
        sweep_id, layer, bad = traced_sweep(spark, catalog_dir, catalog_names, tracer, reader)
        res["failed"] += bad
        mods, _ = B.layer_self_times(tracer.spans, sweep_id)
        for key, d in layer.items():
            res["trace"][f"{key}_s"] = res["trace"].get(f"{key}_s", 0.0) + mods[key]
            res["trace"][f"{key}_jobs"] = res["trace"].get(f"{key}_jobs", 0.0) + d["jobs"]
    return res


def settle(spark) -> None:
    """Between passes: drop cached frames, then collect garbage in the JVM
    and here, so one pass's leftovers do not pause the next."""
    import gc

    from gasket_rs_spark.session import clear_caches

    clear_caches(spark)
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def timed_pass(spark, sf_dir, builders, order, module, tracer, reader) -> dict:
    """One pass: each builder call, then its DataFrame's action into a noop
    sink. With a tracer, each call is a span and its jobs are read."""
    build: dict[str, float] = {}
    execd: dict[str, float] = {}
    layer: dict[str, dict] = {}
    failed = 0
    meter = CpuMeter()
    py0 = python_worker_cpu_s()
    t_pass = time.perf_counter()
    for q in order:
        mod = module[q]
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = builders[q](spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            else:
                t0, t1, t2 = _traced_query(spark, sf_dir, builders[q], mod, tracer, reader, layer)
        except Exception:  # noqa: BLE001 — counted, the pass goes on
            failed += 1
            continue
        build[q] = t1 - t0
        execd[q] = t2 - t1
    pass_s = time.perf_counter() - t_pass
    return {
        "pass_s": pass_s,
        "build": build,
        "exec": execd,
        "failed": failed,
        "external_cores": meter.external_cores(),
        "python_cpu_s": python_worker_cpu_s() - py0,
        "layer": layer,
    }


def _traced_query(spark, sf_dir, fn, mod, tracer, reader, layer):
    def acc(key, stats):
        d = layer.setdefault(key, dict.fromkeys(STAGE_KEYS, 0.0))
        for k, v in stats.items():
            d[k] = d.get(k, 0.0) + v

    with tracer.span("query"):
        with tracer.span("trace.read"):
            py0 = python_worker_cpu_s()
            gid = reader.group()
        with tracer.span(f"{mod}.build") as s:
            df = fn(spark, sf_dir)
        t0, t1 = s.record["start"], s.record["end"]
        with tracer.span("trace.read"):
            acc(f"{mod}.build", reader.read(gid))
            blocks = reader.block_bytes()
            gid = reader.group()
        with tracer.span("spark.plan") as p:
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"{mod}.exec") as e:
            df.write.format("noop").mode("overwrite").save()
        with tracer.span("trace.read"):
            stats = reader.read(gid)
            stats["python_cpu_s"] = python_worker_cpu_s() - py0
            stats["block_bytes"] = blocks
            acc(f"{mod}.exec", stats)
    # As in an untraced pass, the action's time includes its planning.
    return t0, t1, t1 + (p.record["end"] - p.record["start"]) + (e.record["end"] - e.record["start"])


def trace_summary(tracer, root_id, tp, untraced_pass_s, spark) -> dict:
    layers, gap = B.layer_self_times(tracer.spans, root_id)
    root = tracer.spans[root_id]
    traced_pass = root["end"] - root["start"]
    out: dict[str, float] = {}
    for name, v in layers.items():
        if name.endswith((".build", ".exec")):
            out[f"{name}_s"] = out.get(f"{name}_s", 0.0) + v
    out["spark.plan_s"] = layers.get("spark.plan", 0.0)
    out["trace.read_s"] = layers.get("trace.read", 0.0)
    out["trace.gap_s"] = gap + layers.get("query", 0.0)
    out["trace.pass_s"] = traced_pass
    out["trace.overhead_s"] = traced_pass - untraced_pass_s
    out["trace.unreconciled_s"] = traced_pass - sum(layers.values()) - gap
    total = dict.fromkeys(STAGE_KEYS, 0.0)
    total["python_cpu_s"] = 0.0
    block_bytes = 0.0
    for key, d in tp["layer"].items():
        out[f"{key}_jobs"] = d["jobs"]
        for k in total:
            total[k] += d.get(k, 0.0)
        block_bytes = max(block_bytes, d.get("block_bytes", 0.0))
    for k in STAGE_KEYS:
        out[f"spark.{k}"] = total[k]
    out["spark.task_offcpu_s"] = total["task_run_s"] - total["task_cpu_s"]
    out["spark.slot_util"] = total["task_run_s"] / (traced_pass * spark.sparkContext.defaultParallelism)
    out["spark.block_bytes"] = block_bytes
    out["python.worker_cpu_s"] = total["python_cpu_s"]
    return out


def probe_tables(spark, sf_dir: str, reader: JobReader) -> dict:
    """Call ``tables.load`` once per table; mean wall time and jobs per call."""
    from gasket_rs_spark.tables import TABLE_NAMES, load

    secs, jobs = [], []
    for t in TABLE_NAMES:
        gid = reader.group()
        t0 = time.perf_counter()
        load(spark, sf_dir, t)
        secs.append(time.perf_counter() - t0)
        jobs.append(reader.read(gid)["jobs"])
    return {
        "tables.load_s": statistics.fmean(secs),
        "tables.load_jobs": statistics.fmean(jobs),
    }


# -- catalog-schema workload ----------------------------------------------------------


def catalog(spark, sf_dir: str, names: list[str], pins: dict, seed: int, seconds: float,
            trace: bool, tracer: B.Tracer, log) -> dict:
    from gasket_rs_spark import registry

    queries, _ = registry.collect_raw()
    order = list(names)
    random.Random(seed).shuffle(order)
    attempted = failed = 0

    # Untimed warm sweep; it also checks every schema against its pin.
    t0 = time.perf_counter()
    for q in order:
        attempted += 1
        try:
            got = queries[q](spark, sf_dir).schema.simpleString()
        except Exception as exc:  # noqa: BLE001
            log(f"FAIL {q}: {type(exc).__name__}: {exc}")
            failed += 1
            continue
        if got != pins[q]:
            log(f"FAIL {q}: schema {got} != pinned {pins[q]}")
            failed += 1
    warm_s = time.perf_counter() - t0

    sweeps: list[float] = []
    op_ms: list[float] = []
    t_end = time.perf_counter() + seconds
    while not sweeps or time.perf_counter() < t_end:
        settle(spark)
        t_pass = time.perf_counter()
        for q in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                queries[q](spark, sf_dir).schema  # noqa: B018 — the schema read is the operation
            except Exception:  # noqa: BLE001
                failed += 1
                continue
            op_ms.append(1e3 * (time.perf_counter() - t0))
        sweeps.append(time.perf_counter() - t_pass)

    res = {
        "attempted": attempted,
        "failed": failed,
        "pass_s": statistics.median(sweeps),
        "warmup_s": warm_s,
        "op_samples_ms": op_ms,
        "detail": {"builders": len(order), "sweeps": len(sweeps), "warm_sweep_s": warm_s,
                   "pass_s_each": sweeps},
    }
    if trace:
        settle(spark)
        reader = JobReader(spark)
        root_id, layer, bad = traced_sweep(spark, sf_dir, order, tracer, reader)
        res["failed"] += bad
        res["trace"] = trace_summary(tracer, root_id, {"layer": layer}, res["pass_s"], spark)
        res["trace"].update(probe_tables(spark, sf_dir, reader))
    return res


def traced_sweep(spark, sf_dir: str, names, tracer: B.Tracer, reader: JobReader):
    """One traced schema-only sweep: each builder call is a span named
    after its module, with the jobs it launched. Returns (root span id,
    per-module stage totals, failures)."""
    from gasket_rs_spark import registry

    queries, _ = registry.collect_raw()
    layer: dict[str, dict] = {}
    failed = 0
    with tracer.span("sweep") as root:
        for q in names:
            key = f"{B.short_module(queries[q].__module__)}.build"
            with tracer.span("query"):
                with tracer.span("trace.read"):
                    gid = reader.group()
                with tracer.span(key):
                    try:
                        queries[q](spark, sf_dir).schema  # noqa: B018 — the schema read is the operation
                    except Exception:  # noqa: BLE001
                        failed += 1
                with tracer.span("trace.read"):
                    d = layer.setdefault(key, dict.fromkeys(STAGE_KEYS, 0.0))
                    for k, v in reader.read(gid).items():
                        d[k] += v
                    d["block_bytes"] = max(d.get("block_bytes", 0), reader.block_bytes())
    return root.record["id"], layer, failed
