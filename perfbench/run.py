#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads:

- ``headline-sf0.1``: the 23 headline queries on the committed sf0.1 fixture,
  one closed-loop client building each query and running it to a noop sink,
  in seed-permuted order, after a full untimed warm pass that also checks
  every result (DuckDB oracle, or a pinned row count and digest).
- ``catalog-schema``: a fixed sample of registered builders on sf0.001, each
  called and its ``.schema`` read with no action, in seed-permuted order,
  after an untimed sweep that checks every schema against its pin.
- ``stage-graph``: the pure-Python ``pipeline`` runtime, no Spark.
- ``headline-sf1``: the headline on the sf1 fixture that
  ``scripts/gen_sf_fixture.py`` tiles from sf0.1 (10 replicas), generated
  once per checkout and checked against a pinned content digest.

``catalog-schema`` and ``headline-sf1`` are not in BENCHMARK.json (see
NOTES.md); run them by name.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics, or with ``--trace 1``
the per-layer metrics. The line before it holds the run's details (per-pass
times, co-tenant CPU readings, family sums). Traced runs also write their
spans to ``.bench_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)

import bench_lib as B  # noqa: E402

WORKLOADS = ("headline-sf0.1", "headline-sf1", "catalog-schema", "stage-graph")
# Set-up samples per run: child processes timed from launch to ready; a Spark
# run's own process is one of them (its age when the session is ready).
SETUP_SAMPLES = 3
SETUP_SAMPLES_STAGE_GRAPH = 5  # each about 0.1 s

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
}

HEADLINE_MODULES = (
    "operators.relational", "functions.scalar", "streaming.windows", "operators.dedup",
    "operators.similarity", "operators.text", "operators.multimodal",
)
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    **{f"{m}.build_s": "s" for m in B.MODULES},
    **{f"{m}.build_jobs": "count" for m in B.MODULES},
    **{f"{m}.exec_s": "s" for m in HEADLINE_MODULES},
    **{f"{m}.exec_jobs": "count" for m in HEADLINE_MODULES},
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_offcpu_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.slot_util": "ratio",
    "spark.single_task_stages": "count",
    "spark.block_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "python.worker_cpu_s": "s",
    "pipeline.messaging.send_blocked_s": "s",
    "pipeline.messaging.recv_wait_s": "s",
    "pipeline.messaging.queue_depth_mean": "count",
    "pipeline.runtime.units": "count",
    "pipeline.runtime.execute_s": "s",
    "pipeline.runtime.teardown_s": "s",
    "pipeline.retries.attempts": "count",
    "pipeline.retries.backoff_s": "s",
    "pipeline.metrics.inc_ns": "ns",
    "stage-graph.gen_lag_ms": "ms",
    "stage-graph.msgs_per_s": "1/s",
    "headline.build_s": "s",
    "headline.exec_s": "s",
    "headline.relational_s": "s",
    "headline.dedup_s": "s",
    "headline.similarity_s": "s",
    "headline.text_s": "s",
    "trace.pass_s": "s",
    "trace.gap_s": "s",
    "trace.read_s": "s",
    "trace.overhead_s": "s",
    "failed_frac": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def check_data(names) -> None:
    """Refuse to run on fixture bytes other than the pinned ones."""
    want = {}
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, rel = line.split()
            want[rel] = digest
    for rel, digest in want.items():
        if rel.split("/")[0] not in names:
            continue
        with open(os.path.join(DATA, rel), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                raise SystemExit(f"fixture {rel} does not match its pinned digest")


def tree_digest(path: str) -> str:
    """sha256 over every file under ``path``: relative names and contents."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def prepare_sf1(want: str | None) -> tuple[str, str]:
    """The sf1 fixture under ``WORK``, generated from sf0.1 by the
    repository's own generator unless already there with digest ``want``
    (``None`` only when pinning). Returns (directory, digest)."""
    out = os.path.join(WORK, "sf1")
    if want is not None and os.path.isdir(out) and tree_digest(out) == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "gen_sf_fixture.py"),
         os.path.join(DATA, "sf0.1"), out, "10"],
        check=True, stdout=subprocess.DEVNULL, timeout=600,
    )
    got = tree_digest(out)
    if want is not None and got != want:
        raise SystemExit(f"sf1 fixture digest {got} != pinned {want}")
    return out, got


def setup_probe(workload: str) -> None:
    """Child-process set-up sample: print a line once the workload is set
    up, then tear it down. The parent times the child from launch to that line."""
    if workload == "stage-graph":
        import stage_graph

        stage_graph.setup_graph(0)
        print("ready", flush=True)
        return
    import spark_side

    spark_side.configure_env(ROOT, WORK, cpus())
    spark, _ = spark_side.start_session()
    print("ready", flush=True)
    spark_side.stop_session(spark, graceful=False)


def child_setups(workload: str, n: int) -> list[float]:
    """``n`` set-up times, each of a fresh child process: launch to ready."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        p = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--setup-probe", workload],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        line = p.stdout.readline()
        t = time.perf_counter() - t0
        _, err = p.communicate(timeout=120)
        if p.returncode != 0 or line.strip() != "ready":
            raise RuntimeError(f"setup probe failed: {err[-2000:]}")
        out.append(t)
    return out


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def run(args) -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    tracer = B.Tracer(f"{args.workload}-seed{args.seed}", bool(args.trace))
    if args.workload == "stage-graph":
        import stage_graph

        # The graph's threads share one interpreter lock, so the runtime can
        # use one core; pinned to one, lock hand-offs stop bouncing between
        # cores, which otherwise doubles pass times and makes them erratic.
        os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
        setups = [] if args.trace else child_setups(args.workload, SETUP_SAMPLES_STAGE_GRAPH)
        res = stage_graph.run(args.seed, args.seconds, bool(args.trace), tracer)
        peak_mb = peak_self_rss_mb()
    else:
        import spark_side

        check_data(("sf0.1", "sf0.001"))
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
        spark_side.configure_env(ROOT, WORK, cpus())
        sampler = spark_side.RssSampler().start()
        spark, start_s = spark_side.start_session()
        setups = [B.process_age_s()]
        try:
            if args.workload == "catalog-schema":
                res = spark_side.catalog(
                    spark, os.path.join(DATA, "sf0.001"), pins["catalog_sample"],
                    pins["schemas"], args.seed, args.seconds, bool(args.trace), tracer, log)
            else:
                sf = args.workload.split("-")[1]
                # sf1 is generated here, after the set-up sample was taken.
                sf_dir = (prepare_sf1(pins["sf1_digest"])[0] if sf == "sf1"
                          else os.path.join(DATA, sf))
                res = spark_side.headline(
                    spark, sf_dir, pins[f"rows_only_{sf}"], args.seed, args.seconds,
                    bool(args.trace), tracer, log, os.path.join(DATA, "sf0.001"),
                    pins["catalog_sample"])
        finally:
            peak_mb = sampler.stop()
            spark_side.stop_session(spark)
        if args.trace:
            res["trace"]["session.start_s"] = start_s
            res["trace"]["session.warmup_s"] = res["warmup_s"]
        if not args.trace:  # a traced run reports no setup_s
            setups += child_setups(args.workload, SETUP_SAMPLES - 1)
        # What killed set-up probes could not clean up.
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"spans-{tracer.run_id}.json"))
    res["setups"] = setups
    res["peak_rss_mb"] = peak_mb
    return res


def peak_self_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


def metrics_of(res: dict, trace: bool) -> dict:
    ops = res["op_samples_ms"]
    level = B.tail_level(len(ops))
    detail = res["detail"]
    detail.update(
        op_samples=len(ops),
        op_tail_level=level,
        setup_s_each=res["setups"],
        peak_rss_mb=res["peak_rss_mb"],
        failed_frac=res["failed"] / res["attempted"],
    )
    if not trace:
        values = {
            "setup_s": statistics.median(res["setups"]),
            "pass_s": res["pass_s"],
            "op_p50_ms": B.quantile(ops, 0.5),
            "op_tail_ms": B.quantile(ops, level),
        }
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    values = dict.fromkeys(PER_LAYER, 0.0)
    for k in ("build_s", "exec_s", "relational_s", "dedup_s", "similarity_s", "text_s"):
        if k in detail:
            values[f"headline.{k}"] = detail[k]
    unknown = set(res["trace"]) - set(PER_LAYER) - {"trace.unreconciled_s"}
    if unknown:
        raise RuntimeError(f"trace produced unlisted metrics {sorted(unknown)}")
    values.update({k: v for k, v in res["trace"].items() if k in PER_LAYER})
    values["failed_frac"] = detail["failed_frac"]
    values["peak_rss_mb"] = res["peak_rss_mb"]
    detail["trace_unreconciled_s"] = res["trace"].get("trace.unreconciled_s", 0.0)
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", choices=WORKLOADS, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gasket_rs_spark")):
        log(f"no gasket_rs_spark package under {ROOT}: run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    if args.setup_probe:
        setup_probe(args.setup_probe)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    res = run(args)
    metrics = metrics_of(res, bool(args.trace))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": res["detail"]}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
