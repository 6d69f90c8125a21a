"""The stage-graph workload: the pure-Python ``pipeline`` runtime, no Spark.

Topology (the reference's dumb.rs shape): two source stages funnel
(cap 10) into one mapper, which feeds a sink (cap 10); four stage threads.
A seeded 1% of units fail their first ``execute`` in the mapper, so the
runtime's retry path runs. Two phases: a saturated, backpressured one
(closed loop: sources send as fast as the graph accepts) and an open-loop
one at a fixed rate, where each message is stamped with the time it was due.
"""

from __future__ import annotations

import contextlib
import gc
import random
import statistics
import time

import bench_lib as B
from gasket_rs_spark.pipeline.messaging import (
    InputPort,
    OutputPort,
    connect_ports,
    funnel_ports,
)
from gasket_rs_spark.pipeline.retries import RetryPolicy
from gasket_rs_spark.pipeline.runtime import Policy, Scheduled, Stage, Worker, spawn_stage

SATURATED_MSGS = 5_000  # per saturated pass, both sources together
SATURATED_SHARE = 0.75  # of the run's seconds; the open loop takes the rest
OPEN_LOOP_RATE = 5_000.0  # msgs/s, both sources together
FAIL_SHARE = 0.01
POLICY = Policy(
    tick_timeout=30.0,
    work_retry=RetryPolicy(max_retries=2, backoff_unit=0.0001, backoff_factor=2.0),
)


def mapped(value: int) -> int:
    return (value * 2654435761 + 12345) % 2**32


class Probe:
    """Counters the benchmark's own stage workers fill in traced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.send_blocked_s = 0.0
        self.recv_wait_s = 0.0
        self.depth_sum = 0
        self.depth_n = 0
        self.units = 0
        self.execute_s = 0.0
        self.teardown_s = 0.0
        self.attempts = 0
        self.backoff_s = 0.0
        self.inc_ns = 0
        self.incs = 0


class Source(Stage):
    def __init__(self, name: str, plan: list[tuple], probe: Probe, clock):
        super().__init__(name=name)
        self.plan = plan  # (key, value, due or None)
        self.output = OutputPort()
        self.probe = probe
        self.clock = clock
        self.sent_at: list[float] = []
        self.emitted = self.metrics.track_counter("emitted")

    def worker(self):
        src = self

        class W(Worker):
            i = 0

            def schedule(self, stage):
                if self.i >= len(src.plan):
                    return Scheduled.done()
                unit = src.plan[self.i]
                self.i += 1
                due = unit[2]
                if due is not None:
                    wait = due - src.clock()
                    if wait > 0:
                        time.sleep(wait)
                return Scheduled.unit_of(unit)

            def execute(self, unit, stage):
                p = src.probe
                if not p.enabled:
                    if unit[2] is not None:
                        src.sent_at.append(src.clock())
                    src.output.send(unit)
                    src.emitted.inc()
                    return
                t0 = time.perf_counter()
                if unit[2] is not None:
                    src.sent_at.append(src.clock())
                src.output.send(unit)
                t1 = time.perf_counter()
                n0 = time.perf_counter_ns()
                src.emitted.inc()
                p.inc_ns += time.perf_counter_ns() - n0
                p.incs += 1
                p.send_blocked_s += t1 - t0
                p.units += 1
                p.execute_s += time.perf_counter() - t0

            def teardown(self):
                t0 = time.perf_counter()
                src.output.close()
                src.probe.teardown_s += time.perf_counter() - t0

        return W()


class Mapper(Stage):
    def __init__(self, failing: set, probe: Probe):
        super().__init__(name="mapper")
        self.input = InputPort()
        self.output = OutputPort()
        self.failing = failing
        self.failed_once: set = set()
        self.executions = 0
        self.probe = probe
        self._last_fail_end = 0.0
        self.mapped_count = self.metrics.track_counter("mapped")

    def worker(self):
        m = self

        class W(Worker):
            def schedule(self, stage):
                p = m.probe
                if p.enabled:
                    p.depth_sum += len(m.input)
                    p.depth_n += 1
                    t0 = time.perf_counter()
                msg = m.input.recv(timeout=30.0)
                if p.enabled:
                    p.recv_wait_s += time.perf_counter() - t0
                if msg is None:
                    return Scheduled.done()
                return Scheduled.unit_of(msg.payload)

            def execute(self, unit, stage):
                p = m.probe
                t0 = time.perf_counter()
                m.executions += 1
                key = unit[0]
                if key in m.failed_once and p.enabled:
                    p.attempts += 1
                    p.backoff_s += t0 - m._last_fail_end
                if key in m.failing and key not in m.failed_once:
                    m.failed_once.add(key)
                    m._last_fail_end = time.perf_counter()
                    raise RuntimeError(f"injected first-attempt failure of {key}")
                out = (key, mapped(unit[1]), unit[2])
                if not p.enabled:
                    m.output.send(out)
                    m.mapped_count.inc()
                    return
                t1 = time.perf_counter()
                m.output.send(out)
                t2 = time.perf_counter()
                n0 = time.perf_counter_ns()
                m.mapped_count.inc()
                p.inc_ns += time.perf_counter_ns() - n0
                p.incs += 1
                p.send_blocked_s += t2 - t1
                p.units += 1
                p.execute_s += time.perf_counter() - t0

            def teardown(self):
                t0 = time.perf_counter()
                m.output.close()
                m.probe.teardown_s += time.perf_counter() - t0

        return W()


class Sink(Stage):
    def __init__(self, probe: Probe, clock):
        super().__init__(name="sink")
        self.input = InputPort()
        self.got: list[tuple] = []  # (key, value, due, received)
        self.probe = probe
        self.clock = clock
        self.received = self.metrics.track_counter("received")

    def worker(self):
        s = self

        class W(Worker):
            def schedule(self, stage):
                p = s.probe
                if p.enabled:
                    p.depth_sum += len(s.input)
                    p.depth_n += 1
                    t0 = time.perf_counter()
                msg = s.input.recv(timeout=30.0)
                if p.enabled:
                    p.recv_wait_s += time.perf_counter() - t0
                if msg is None:
                    return Scheduled.done()
                return Scheduled.unit_of(msg.payload)

            def execute(self, unit, stage):
                s.got.append((*unit, s.clock()))
                if s.probe.enabled:
                    p = s.probe
                    n0 = time.perf_counter_ns()
                    s.received.inc()
                    p.inc_ns += time.perf_counter_ns() - n0
                    p.incs += 1
                    p.units += 1
                else:
                    s.received.inc()

        return W()


def make_plans(rng: random.Random, n: int, rate: float | None, t0: float):
    """Per-source unit plans for ``n`` messages: (key, value, due). With a
    rate, message k (interleaved over the two sources) is due at t0 + k/rate."""
    plans: list[list[tuple]] = [[], []]
    for k in range(n):
        due = None if rate is None else t0 + k / rate
        plans[k % 2].append(((k % 2, k // 2), rng.getrandbits(32), due))
    return plans


class Graph:
    def __init__(self, plans, failing: set, probe: Probe, clock=time.perf_counter):
        self.sources = [Source(f"source{i}", plans[i], probe, clock) for i in range(2)]
        self.mapper = Mapper(failing, probe)
        self.sink = Sink(probe, clock)
        funnel_ports([s.output for s in self.sources], self.mapper.input, cap=10)
        connect_ports(self.mapper.output, self.sink.input, cap=10)
        self.tethers = []

    def start(self) -> None:
        self.tethers = [
            spawn_stage(st, POLICY) for st in (*self.sources, self.mapper, self.sink)
        ]

    def join(self) -> None:
        for t in self.tethers:
            t.join_stage(timeout=120)
            if t.error is not None:
                raise RuntimeError(f"stage {t.name} failed: {t.error!r}")


def check(graph: Graph, plans, failing: set) -> int:
    """Failures found: every message must reach the sink exactly once with
    its mapped value, and retries must equal injected failures."""
    want = {u[0]: mapped(u[1]) for plan in plans for u in plan}
    got: dict = {}
    bad = 0
    for key, value, _due, _t in graph.sink.got:
        if key in got or want.get(key) != value:
            bad += 1
        got[key] = value
    bad += len(want) - len(got.keys() & want.keys())
    retries = graph.mapper.executions - len(want)
    if retries != len(failing) or graph.mapper.failed_once != failing:
        bad += 1
    return bad


def setup_graph(seed: int) -> Graph:
    """The workload's set-up: a wired graph whose four stages are running."""
    rng = random.Random(seed)
    plans = make_plans(rng, 2, None, 0.0)
    g = Graph(plans, set(), Probe(False))
    g.start()
    g.join()
    return g


@contextlib.contextmanager
def collector_paused():
    """Python's cyclic collector off for one phase: the benchmark's own
    message plans and sink records would otherwise make its full
    collections pause the graph at random points."""
    gc.collect()
    gc.disable()
    try:
        yield
    finally:
        gc.enable()


def run(seed: int, seconds: float, trace: bool, tracer: B.Tracer) -> dict:
    rng = random.Random(seed)
    attempted = failed = 0

    def fail_set(plans):
        keys = [u[0] for plan in plans for u in plan]
        return set(rng.sample(keys, int(len(keys) * FAIL_SHARE)))

    def saturated(probe: Probe) -> float:
        nonlocal attempted, failed
        plans = make_plans(rng, SATURATED_MSGS, None, 0.0)
        failing = fail_set(plans)
        g = Graph(plans, failing, probe)
        with collector_paused():
            t0 = time.perf_counter()
            g.start()
            g.join()
        t = g.sink.got[-1][3] - t0 if g.sink.got else time.perf_counter() - t0
        attempted += SATURATED_MSGS
        failed += check(g, plans, failing)
        return t

    def open_loop(probe: Probe, duration: float):
        nonlocal attempted, failed
        n = int(OPEN_LOOP_RATE * duration)
        t0 = time.perf_counter() + 0.05
        plans = make_plans(rng, n, OPEN_LOOP_RATE, t0)
        failing = fail_set(plans)
        g = Graph(plans, failing, probe)
        with collector_paused():
            g.start()
            g.join()
        attempted += n
        failed += check(g, plans, failing)
        lat = [1e3 * (rcv - due) for _k, _v, due, rcv in g.sink.got]
        lag = [
            1e3 * (sent - u[2])
            for src, plan in zip(g.sources, plans)
            for sent, u in zip(src.sent_at, plan)
        ]
        return lat, lag

    # Warm pass: one short saturated pass, untimed.
    saturated(Probe(False))
    passes: list[float] = []
    t_end = time.perf_counter() + seconds * SATURATED_SHARE
    while not passes or time.perf_counter() < t_end:
        passes.append(saturated(Probe(False)))
    lat, lag = open_loop(Probe(False), seconds * (1 - SATURATED_SHARE))
    # The mean pass, i.e. the phase's throughput: pass times cluster in a
    # fast and a slow mode whose mix varies, which makes the median jump.
    pass_s = statistics.fmean(passes)
    res = {
        "attempted": attempted,
        "failed": failed,
        "pass_s": pass_s,
        "op_samples_ms": lat,
        "detail": {
            "saturated_pass_s_each": passes,
            "msgs_per_s": SATURATED_MSGS / pass_s,
            "open_loop_rate": OPEN_LOOP_RATE,
            "gen_lag_ms_p50": B.quantile(lag, 0.5),
            "gen_lag_ms_p99": B.quantile(lag, 0.99),
        },
    }
    if trace:
        probe = Probe(True)
        with tracer.span("stage-graph.saturated"):
            traced = saturated(probe)
        with tracer.span("stage-graph.open_loop"):
            _lat, tlag = open_loop(probe, min(seconds * (1 - SATURATED_SHARE), 2.0))
        res["failed"] = failed
        res["attempted"] = attempted
        res["trace"] = {
            "pipeline.messaging.send_blocked_s": probe.send_blocked_s,
            "pipeline.messaging.recv_wait_s": probe.recv_wait_s,
            "pipeline.messaging.queue_depth_mean": probe.depth_sum / max(probe.depth_n, 1),
            "pipeline.runtime.units": probe.units,
            "pipeline.runtime.execute_s": probe.execute_s,
            "pipeline.runtime.teardown_s": probe.teardown_s,
            "pipeline.retries.attempts": probe.attempts,
            "pipeline.retries.backoff_s": probe.backoff_s,
            "pipeline.metrics.inc_ns": probe.inc_ns / max(probe.incs, 1),
            "stage-graph.gen_lag_ms": B.quantile(tlag, 0.99),
            "stage-graph.msgs_per_s": SATURATED_MSGS / pass_s,
            "trace.pass_s": traced,
            "trace.overhead_s": traced - pass_s,
        }
    return res
