"""edgarbench: the repository benchmark, one command per workload run.

    python3 edgarbench/run.py --workload lookup --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from ``--seed`` inside the checkout,
starts one session with the fixed configuration (``common.py``), sets
up, warms up, measures for ``--seconds``, checks every output, and
prints the metrics: human-readable lines first, then one JSON object as
the last line of stdout.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics (spans around every call into a
package layer plus Spark REST counters per job group) and the tracing
overhead.  Workloads and metrics are described in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lookup", "batch")
END_TO_END = {
    "setup_s": "s", "round_s": "s", "op_p90_ms": "ms", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s", "plan.build_ms": "ms", "plan.exec_ms": "ms",
    "engine.jobs_per_op": "count", "engine.stages_per_op": "count", "engine.tasks_per_op": "count",
    "engine.task_run_ms_per_op": "ms", "engine.task_cpu_ms_per_op": "ms",
    "engine.scan_task_ms_per_op": "ms", "engine.gc_ms_per_op": "ms",
    "engine.shuffle_write_mb_per_op": "MB", "engine.spill_mb_per_op": "MB",
    "engine.scheduler_delay_ms_per_op": "ms", "engine.files_read_per_op": "count",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def clear_graft_env() -> None:
    """Drop the SPARK_GRAFT_* variables that session.builder() reads
    (some at import), so its defaults are the same on every run."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Python, launcher, JVM, Spark)
    inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    import tempfile

    tempfile.tempdir = tmp


def make_inputs(workload: str, seed: int, root: str) -> dict:
    from edgarbench import gen

    if workload == "lookup":
        return gen.lookup_inputs(seed, root)
    return gen.catalog_tables(seed, root)


def make_runner(ctx, inputs):
    if ctx.workload == "lookup":
        from edgarbench.lookup import Lookup

        return Lookup(ctx, inputs)
    from edgarbench.batch import Batch

    return Batch(ctx, inputs, os.path.join(ROOT, ".edgarbench", "oracle-cache"))


def main(argv=None) -> int:
    args = parse_args(argv)
    clear_graft_env()
    sys.path.insert(0, ROOT)
    try:
        import sec_edgar_spark  # noqa: F401
        from tools import check_oracle  # noqa: F401
    except ImportError as e:
        print(f"edgarbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2

    from edgarbench.spans import by_name
    from edgarbench.common import END, Context, median, now, overhead_pct, p90, peak_rss_mb, per_op_engine, start_session, stop_session

    work = os.path.join(ROOT, ".edgarbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work)
    spark = None
    try:
        t0 = now()
        inputs = make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        gen_s = now() - t0

        t0 = now()
        spark = ctx.spark = start_session(work)
        session_s = now() - t0
        runner = make_runner(ctx, inputs)
        runner.setup(spark)
        runner.run(spark)
        setup_s = session_s + ctx.setup_parts.get("workload_s", 0.0) + ctx.setup_parts.get("warmup_s", 0.0)
        rss = peak_rss_mb(spark)

        lat = ctx.latencies
        metrics = {
            "setup_s": setup_s,
            "round_s": ctx.round_s,
            "op_p90_ms": 1e3 * p90(lat),
            "peak_rss_mb": rss,
        }
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        # The median is printed, not gated: see edgarbench/record.json.
        metrics_text = {"op_p50_ms": (1e3 * median(lat), "ms"), **{k: (v, END_TO_END[k]) for k, v in metrics.items()}}
        if args.trace:
            groups = ctx.engine()
            runner.layers(groups)
            traced = [o for o in ctx.ops if o.traced and o.ok]
            layer = {
                "session.start_s": session_s,
                "plan.build_ms": 1e3 * median([o.build_s for o in traced]),
                "plan.exec_ms": 1e3 * median([o.latency_s - o.build_s for o in traced]),
                **per_op_engine(groups, ctx.ops),
                "trace.overhead_pct": overhead_pct(ctx.ops),
            }
            out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
            trace_dir = os.path.join(ROOT, ".edgarbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            ctx.tracer.write(os.path.join(trace_dir, f"{ctx.tracer.run_id}.json"))
            for name, (value, unit) in sorted(ctx.layer.items()):
                print(f"layer {name} = {value:.6g} {unit}")
            for name, agg in sorted(by_name(ctx.tracer.spans).items()):
                print(f"span {name}: {agg['count']} calls, {agg['total_s']:.4g} s total, {agg['self_s']:.4g} s self")
        failed = ctx.failed + ctx.wrong
        attempted = max(ctx.attempted, 1)
        print(f"workload {args.workload} seed {args.seed} inputs {gen_s:.2f} s generated")
        print(
            f"setup parts: session {session_s:.2f} s, workload {ctx.setup_parts.get('workload_s', 0.0):.2f} s, "
            f"warm-up {ctx.setup_parts.get('warmup_s', 0.0):.2f} s"
        )
        for k, (v, unit) in metrics_text.items():
            print(f"{END[args.workload].get(k, k)} = {v:.6g} {unit}")
        for name, (v, unit) in getattr(runner, "info", {}).items():
            print(f"{name} = {v:.6g} {unit}")
        for op in getattr(runner, "ingest_ops", []):
            print(f"op {op.kind}{' (traced)' if op.traced else ''} = {op.latency_s:.4g} s{'' if op.ok else ' FAILED'}")
        print(f"failed_frac = {failed / attempted:.6g} ({failed} of {attempted} ops failed or wrong)")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
