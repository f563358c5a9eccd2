"""Shared machinery of the benchmark's workloads.

:class:`Bench` owns one benchmark process's Spark session, its clocks,
the record of every timed operation, and the optional :class:`Tracer`.
A workload module provides ``setup_round(bench, r) -> state``,
``warm(bench, state)``, ``cycle(bench, state)``, ``finish(bench, state)``
and optionally ``BLOCK``; :func:`run_workload` calls them in this order:

1. ``SETUP_ROUNDS`` set-up rounds. Each round stops the previous Spark
   session, starts a new one and rebuilds the workload's engine state;
   ``setup_s`` is the median round. Only the last round's state is used.
2. One untimed warm-up, so first-of-shape compilation stays out of the
   timed figures.
3. Closed-loop cycles until the timed clock reaches ``--seconds`` and
   the cycle count is a whole number of the workload's ``BLOCK``s. A
   workload's operation sequence does not depend on the seed, so every
   run holds the same mix of operations whatever the clock did; only
   the data differs. With tracing on, blocks alternate traced and
   untraced.
4. ``finish``: end-of-run totals. Output checks run inside the cycles,
   in untimed sections (:meth:`Bench.untimed`).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field

SETUP_ROUNDS = 3


@dataclass
class Op:
    kind: str  # "read" | "write"
    latency: float
    traced: bool
    rows: int = 0
    info: dict = field(default_factory=dict)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics`` 'inclusive' method)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    """One benchmark process: session, clocks, operation log, tracer."""

    def __init__(self, *, workload: str, seed: int, seconds: float, run_dir: str,
                 tracer=None, scale: float = 1.0) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.tracer = tracer
        #: input-size multiplier (1.0 in measured runs; the self-test
        #: shrinks inputs to make a smoke run quick)
        self.scale = scale
        self.spark = None
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.checks = 0
        self.setup_rounds: list[float] = []
        self.warm_s = 0.0
        self.timed_s = 0.0
        self.cycles = 0
        self.gc_s = 0.0
        self.jvm_pid: int | None = None
        self.rss_mb = (0.0, 0.0)
        #: per-round named set-up sub-steps measured by the benchmark
        #: itself (e.g. the first pandas-UDF job)
        self.setup_marks: dict[str, list[float]] = {}
        #: what a workload generated in round 0 and keeps across rounds
        self.inputs: dict = {}
        #: workload totals that report.per_layer reads (bytes, passes)
        self.layer_extra: dict = {}
        self._untimed = 0.0
        self._t0 = 0.0
        self.tracing_cycle = False
        self.op_seq = 0

    # ---------------------------------------------------------- session

    def start_session(self):
        """Stop the current Spark session (if any) and start a new one."""
        from palo_spark import session as ps_session

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        wh = os.path.join(self.run_dir, "spark-warehouse")
        self.spark = ps_session.get_session(
            app_name=f"perfbench-{self.workload}",
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": wh,
                # a fixed, pre-touched heap: peak RSS then varies only
                # with what lives outside it, not with heap growth
                "spark.driver.extraJavaOptions": (
                    f"-Xms{os.environ['PALO_SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
            },
        )
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def shutdown(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def gc_ms(self) -> int:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus its JVM; the parts stay in rss_mb."""
        self.rss_mb = (vm_hwm_kb(os.getpid()) / 1024.0,
                       vm_hwm_kb(self.jvm_pid) / 1024.0 if self.jvm_pid else 0.0)
        return sum(self.rss_mb)

    def mark(self, name: str, seconds: float) -> None:
        self.setup_marks.setdefault(name, []).append(seconds)

    # ----------------------------------------------------------- clocks

    def clock(self) -> float:
        """Seconds of the timed phase so far, excluding untimed sections."""
        return time.perf_counter() - self._t0 - self._untimed

    class _Untimed:
        def __init__(self, bench: "Bench") -> None:
            self.bench = bench

        def __enter__(self):
            self.t0 = time.perf_counter()
            tr = self.bench.tracer
            self.was_active = bool(tr and tr.active)
            if tr:
                tr.active = False
            return self

        def __exit__(self, *exc):
            self.bench._untimed += time.perf_counter() - self.t0
            if self.bench.tracer:
                self.bench.tracer.active = self.was_active
            return False

    def untimed(self):
        """Context for checks: excluded from the timed clock and untraced."""
        return Bench._Untimed(self)

    # -------------------------------------------------------------- ops

    def op(self, kind: str, fn, *, rows: int = 0, **info):
        """Run ``fn()`` as one timed operation of ``kind``.

        A raised exception counts the operation as failed; the loop goes
        on. Returns (``fn``'s result or None when it failed, the Op)."""
        self.op_seq += 1
        traced = self.tracing_cycle
        sc = self.spark.sparkContext
        group = f"op-{self.op_seq}"
        if traced:
            self.tracer.op_id = self.op_seq
            sc.setJobGroup(group, kind)
        t0, u0 = time.perf_counter(), self._untimed
        try:
            out = fn()
        except Exception as e:  # one failed operation must not end the run
            import traceback

            traceback.print_exc()
            self.failures.append(f"{kind} #{self.op_seq}: {type(e).__name__}: {e}")
            out = None
        latency = time.perf_counter() - t0 - (self._untimed - u0)
        o = Op(kind, latency, traced, rows if out is not None else 0, dict(info))
        o.info["failed"] = out is None
        o.info["seq"] = self.op_seq
        if traced:
            with self.untimed():
                sc.setLocalProperty("spark.jobGroup.id", None)
                o.info.update(self._job_counts(group))
        self.ops.append(o)
        return out, o

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si is not None else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


def noop_sink(df) -> None:
    """Consume every row and column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def run_workload(bench: Bench, wl) -> None:
    """Set-up rounds, warm-up, timed closed-loop cycles, checks."""
    state: dict = {}
    if bench.tracer:
        bench.tracer.active = True
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        state = wl.setup_round(bench, r)
        bench.setup_rounds.append(time.perf_counter() - t0)
    if bench.tracer:
        bench.tracer.active = False
    t0 = time.perf_counter()
    wl.warm(bench, state)
    bench.warm_s = time.perf_counter() - t0
    gc0 = bench.gc_ms()
    bench._t0 = time.perf_counter()
    bench._untimed = 0.0
    n = 0
    block = getattr(wl, "BLOCK", 1)
    # traced runs alternate traced and untraced blocks, at least one of
    # each, so both halves hold the same operation mix
    min_cycles = 2 * block if bench.tracer else 1
    while n < min_cycles or n % block or bench.clock() < bench.seconds:
        bench.tracing_cycle = bool(bench.tracer) and (n // block) % 2 == 0
        if bench.tracer:
            bench.tracer.active = bench.tracing_cycle
        wl.cycle(bench, state)
        n += 1
    if bench.tracer:
        bench.tracer.active = False
    bench.tracing_cycle = False
    bench.timed_s = bench.clock()
    bench.cycles = n
    bench.gc_s = (bench.gc_ms() - gc0) / 1000.0
    wl.finish(bench, state)
