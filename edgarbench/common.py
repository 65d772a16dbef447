"""Shared pieces of the edgarbench workloads: the one fixed session
configuration, the per-run context (operation log, failure accounting,
tracing, job groups), statistics and peak-RSS probing."""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import os
import resource
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from .spans import EngineCounters, Tracer, sum_counters

# Fixed session configuration: ``session.builder(master=MASTER)`` plus
# GLOBAL_CONFS, identical for every workload and for traced and
# untraced runs.  The builder's other defaults read SPARK_GRAFT_*
# variables, which run.py clears first.  ``{work}`` is the run's work
# directory inside the checkout (scratch locations only, no behaviour).
# The 2g driver heap (the builder's default is 8g) bounds each run's
# memory on a shared machine; the inputs are a few MB and never spill.
# The heap starts at its full size (-Xms2g): left to grow on demand, it
# ended at a different size in every run, and the runs with a smaller
# heap spent more time in GC (on a 4-vCPU host, lookup round_s spread
# 0.23 over five seeds against 0.07 with a fixed heap, peak RSS 0.24
# against 0.01).
MASTER = "local[4]"
GLOBAL_CONFS = {
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
    "spark.local.dir": "{work}/spark-local",
    "spark.sql.warehouse.dir": "{work}/warehouse",
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms2g",
    "spark.sec_edgar.shard_root": "{work}/shards",
}


# Workload-specific names of the end-to-end metrics, for the
# human-readable lines (lookup_p50_ms rather than op_p50_ms).
END = {
    "lookup": {"op_p50_ms": "lookup_p50_ms", "op_p90_ms": "lookup_p90_ms", "round_s": "lookup_round_s"},
    "batch": {"op_p50_ms": "query_p50_ms", "op_p90_ms": "query_p90_ms", "round_s": "batch_s"},
}


def now() -> float:
    return time.perf_counter()


def start_session(work: str):
    """Build the session with the fixed configuration and run one
    trivial job, so the first timed job pays no lazy start-up."""
    from sec_edgar_spark import session

    b = session.builder(app_name="edgarbench", master=MASTER)
    for k, v in GLOBAL_CONFS.items():
        b = b.config(k, v.format(work=work))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs) -> float:
    return statistics.median(xs)


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def digest(obj) -> str:
    return hashlib.md5(repr(obj).encode()).hexdigest()


def peak_rss_mb(spark) -> float:
    """Peak RSS of this driver process plus the JVM (VmHWM)."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return own + int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return own


@dataclass
class Op:
    kind: str
    latency_s: float
    build_s: float
    traced: bool
    group: str
    ok: bool = True
    end: float = 0.0


@dataclass
class Context:
    """One run: its settings, operation log and failure accounting."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: Tracer = None
    spark: object = None
    ops: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    setup_parts: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    groups_extra: dict = field(default_factory=dict)
    round_s: float = 0.0
    latencies: list = field(default_factory=list)

    def __post_init__(self):
        self.tracer = Tracer(f"{self.workload}-{self.seed}-{os.getpid()}", enabled=self.trace)
        self._ids = itertools.count(1)  # next() is atomic: client threads share it
        self._lock = threading.Lock()

    def next_group(self, kind: str) -> str:
        return f"eb:{self.workload}:{next(self._ids)}:{kind}"

    @contextlib.contextmanager
    def job_group(self, group: str, traced: bool):
        """Attribute the jobs of this thread to ``group`` (traced ops
        only: the untraced path makes no extra calls)."""
        if not traced:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def record_failure(self, what: str) -> None:
        with self._lock:
            self.failed += 1
        print(f"FAILED {what}:\n{traceback.format_exc(limit=4)}", file=sys.stderr)

    def record_wrong(self, what: str) -> None:
        self.wrong += 1
        print(f"WRONG {what}", file=sys.stderr)

    def span(self, name: str, traced: bool = True):
        return self.tracer.span(name) if traced else contextlib.nullcontext()

    def engine(self) -> dict[str, dict[str, float]]:
        """Engine counters of every traced op's job group."""
        url = self.spark.sparkContext.uiWebUrl
        counters = EngineCounters(url)
        groups = counters.groups(lambda g: g.startswith("eb:") or g in self.groups_extra)
        for raw, target in self.groups_extra.items():
            if raw in groups:
                src = groups.pop(raw)
                dst = groups.setdefault(target, dict.fromkeys(src, 0.0))
                for k, v in src.items():
                    dst[k] += v
        return groups


def per_op_engine(groups: dict, ops: list) -> dict[str, float]:
    """Mean engine counters per traced op, in the per-layer units."""
    traced = [o for o in ops if o.traced and o.ok]
    n = max(1, len(traced))
    total = sum_counters({o.group: groups[o.group] for o in traced if o.group in groups})
    return {
        "engine.jobs_per_op": total["jobs"] / n,
        "engine.stages_per_op": total["stages"] / n,
        "engine.tasks_per_op": total["tasks"] / n,
        "engine.task_run_ms_per_op": 1e3 * total["task_run_s"] / n,
        "engine.task_cpu_ms_per_op": 1e3 * total["task_cpu_s"] / n,
        "engine.scan_task_ms_per_op": 1e3 * total["scan_task_s"] / n,
        "engine.gc_ms_per_op": 1e3 * total["gc_s"] / n,
        "engine.shuffle_write_mb_per_op": total["shuffle_write_mb"] / n,
        "engine.spill_mb_per_op": total["spill_mb"] / n,
        "engine.scheduler_delay_ms_per_op": 1e3 * total["scheduler_delay_s"] / n,
        "engine.files_read_per_op": total["files_read"] / n,
    }


def overhead_pct(ops: list) -> float:
    """Tracing overhead: geometric mean over op kinds of (median traced
    time / median untraced time), as a percentage above 1.  Traced and
    untraced executions of a kind alternate in order, so cold-first
    penalties cancel in the log domain."""
    import math

    logs = []
    for kind in {o.kind for o in ops}:
        t = [o.latency_s for o in ops if o.kind == kind and o.traced and o.ok]
        u = [o.latency_s for o in ops if o.kind == kind and not o.traced and o.ok]
        if t and u:
            logs.append(math.log(median(t) / median(u)))
    return 100.0 * (math.exp(sum(logs) / len(logs)) - 1.0) if logs else 0.0
