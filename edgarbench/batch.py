"""``batch``: the curation and olap query lists over the generated
catalog tables, one untimed warm-up pass and then measured passes, each
query's result materialized to the caller with ``toPandas()``.

Every query result, warm-up included, is checked against the query's
DuckDB oracle through ``tools/check_oracle.compare``; oracle results are
cached per generated-input digest and oracle version."""

from __future__ import annotations

import hashlib
import os
import pickle

from .common import Op, median, now

# At least one query per operator layer: dedup, similarity, kmeans, pq,
# functions.text + sources.shards (export), relational, asof, interval,
# sessionize, scd, bloom, graph.
PHASES = {
    "curation": (
        "dedup_minhash_lsh_pairs", "dedup_embedding_cosine", "ann_ivf_trained",
        "ann_pq_adc_topk", "text_quality_filter", "curation_export_shards",
    ),
    "olap": (
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "q9_product_profit", "l1_topk_per_group", "events_sessionize",
        "events_asof_join", "events_range_join", "events_scd2_merge",
        "events_retention_cohorts", "j_bloom_prefilter", "graph_pagerank",
    ),
}
PHASE_OF = {q: p for p, qs in PHASES.items() for q in qs}
# The warm-up pass runs this many queries at a time: its cost is mostly
# first-use latency (JIT, codegen, Python worker start), which overlaps.
WARMUP_THREADS = 3


def inputs_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:24]


class Batch:
    def __init__(self, ctx, inputs, cache_dir: str):
        self.ctx = ctx
        self.inp = inputs
        self.sf_dir = inputs["sf_dir"]
        self.cache_dir = cache_dir

    def setup(self, spark):
        from sec_edgar_spark import queries

        t0 = now()
        registry = queries.queries()
        self.fns = {n: registry[n] for n in PHASE_OF}
        self.oracles = queries.oracle_sql()
        self.ctx.setup_parts["workload_s"] = now() - t0

    def execute(self, spark, name: str, traced: bool) -> tuple[Op, object]:
        group = self.ctx.next_group(name)
        t0 = now()
        try:
            with self.ctx.job_group(group, traced), self.ctx.span(f"{PHASE_OF[name]}.{name}", traced):
                with self.ctx.span("queries.build", traced):
                    df = self.fns[name](spark, self.sf_dir)
                build = now() - t0
                with self.ctx.span("queries.collect", traced):
                    pdf = df.toPandas()
            return Op(name, now() - t0, build, traced, group, end=now()), pdf
        except Exception:  # noqa: BLE001 - one failed query must not stop the list
            self.ctx.record_failure(name)
            return Op(name, now() - t0, 0.0, traced, group, ok=False, end=now()), None

    def oracle(self, name: str):
        """DuckDB oracle result for ``name`` on this run's inputs, cached
        under the input digest plus a digest of the oracle SQL, the
        oracle harness source and the DuckDB version."""
        import duckdb
        from tools import check_oracle

        with open(check_oracle.__file__, "rb") as f:
            key = hashlib.sha256(self.oracles[name].encode() + f.read() + duckdb.__version__.encode())
        path = os.path.join(self.cache_dir, f"{self.digest}-{name}-{key.hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = check_oracle.duck_connect(self.sf_dir)
        try:
            pdf = con.execute(self.oracles[name]).fetchdf()
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path, "wb") as f:
            pickle.dump(pdf, f)
        return pdf

    def check(self, results) -> None:
        from tools.check_oracle import compare

        ctx = self.ctx
        self.digest = inputs_digest(self.sf_dir)
        for op, pdf in results:
            ctx.attempted += 1
            if not op.ok:
                continue
            try:
                problems = compare(op.kind, pdf, self.oracle(op.kind))
            except Exception:  # noqa: BLE001 - an oracle error is a failed check
                ctx.record_failure(f"oracle {op.kind}")
                op.ok = False
                continue
            if problems:
                op.ok = False
                ctx.record_wrong(f"{op.kind}: {problems[:2]}")

    def run(self, spark):
        """An untimed warm-up pass over the query list (JIT, codegen,
        Python workers), then whole passes until ``--seconds`` have gone
        by, at least one.  A query's time is its median over the
        measured passes.  Traced runs execute each query traced and
        untraced, in alternating order, for the tracing overhead."""
        from concurrent.futures import ThreadPoolExecutor

        ctx = self.ctx
        t0 = now()
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            warm = list(pool.map(lambda name: self.execute(spark, name, False), PHASE_OF))
        ctx.setup_parts["warmup_s"] = now() - t0
        measured, passes = [], 0
        deadline = now() + ctx.seconds
        while passes == 0 or now() < deadline:
            for i, name in enumerate(PHASE_OF):
                modes = (False,)
                if ctx.trace:
                    modes = (True, False) if (i + passes) % 2 == 0 else (False, True)
                for traced in modes:
                    measured.append(self.execute(spark, name, traced))
            passes += 1
        # Output checks, outside the timed phases.
        self.check(warm + measured)
        ctx.ops = [op for op, _ in measured]
        per = {}
        for o in ctx.ops:
            if o.ok and not o.traced:
                per.setdefault(o.kind, []).append(o.latency_s)
        med = {q: median(ts) for q, ts in per.items()}
        phase_s = {p: sum(med.get(q, 0.0) for q in qs) for p, qs in PHASES.items()}
        ctx.round_s = sum(phase_s.values())
        ctx.latencies = list(med.values())
        self.info = {
            "passes": (passes, "count"),
            **{f"{p}_s": (v, "s") for p, v in phase_s.items()},
            **{f"{PHASE_OF[q]}.{q}_s": (v, "s") for q, v in med.items()},
        }

    def layers(self, groups: dict) -> None:
        ctx = self.ctx
        for name, phase in PHASE_OF.items():
            traced = [o for o in ctx.ops if o.traced and o.kind == name and o.group in groups]
            if traced:
                ctx.layer[f"{phase}.{name}_s"] = (median([o.latency_s for o in traced]), "s")
                ctx.layer[f"{phase}.{name}_task_s"] = (median([groups[o.group]["task_run_s"] for o in traced]), "s")
