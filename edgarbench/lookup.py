"""``lookup``: two closed-loop clients issuing seeded ``filings(...)``
lookups against one shared session over a (year, quarter)-partitioned
parquet index mirror.  Small results, so the fixed per-query driver and
scheduler cost dominates."""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
from collections import defaultdict

from .common import Op, digest, median, now
from .gen import SPEC_PATTERN
from .ingest import STAGES, Ingest

CLIENTS = 2
# Untimed warm-up: a fixed number of lookups, not a fixed time, so every
# run's window starts at the same point of the JVM's warm-up curve
# (planner and codegen JIT) whatever the host's speed.  The latencies
# keep falling for ~250 lookups (about half off over a 90 s run); the
# run's time budget affords only the first part.
WARMUP_LOOKUPS = 16
URL_PREFIX = "https://www.sec.gov/Archives/"


def expected_digest(spec: dict, rows: list[tuple], tickers: dict[str, int]) -> str:
    """Pure-Python evaluation of one spec over the generator's valid
    rows ``(cik, company, form, date, file_name, position)``."""
    s, e = dt.date.fromisoformat(spec["start"]), dt.date.fromisoformat(spec["end"])
    hit = [r for r in rows if s <= r[3] <= e]
    if "form" in spec:
        hit = [r for r in hit if r[2] == spec["form"]]
    if "terms" in spec:
        ciks = {int(t) if t.isdigit() else tickers.get(t.upper()) for t in spec["terms"]}
        hit = [r for r in hit if r[0] in ciks]
    if spec["kind"] == "topk":
        per = defaultdict(list)
        for r in hit:
            per[r[0]].append(r)
        hit = [r for rs in per.values() for r in sorted(rs, key=lambda r: (-r[3].toordinal(), r[5]))[: spec["count"]]]
    if spec["kind"] == "grouped":
        per = defaultdict(list)
        for r in sorted(hit, key=lambda r: (r[3], r[5])):
            per[r[0]].append(URL_PREFIX + r[4])
        return digest(sorted((c, tuple(u)) for c, u in per.items()))
    return digest(sorted((r[0], r[2], r[3].isoformat(), r[4]) for r in hit))


def result_digest(kind: str, rows) -> str:
    if kind == "grouped":
        return digest(sorted((r["cik"], tuple(r["urls"])) for r in rows))
    return digest(sorted((r["cik"], r["form_type"], r["date_filed"].isoformat(), r["file_name"]) for r in rows))


class Lookup:
    def __init__(self, ctx, inputs):
        self.ctx = ctx
        self.inp = inputs
        self.ingest = Ingest(ctx, inputs)
        self.mirror = os.path.join(ctx.work, "ingest", "round-1", "mirror")

    def setup(self, spark):
        """The ingest phase builds the mirror the lookups read; then the
        cik map is loaded and cached."""
        from sec_edgar_spark.sources import cik_map

        ctx = self.ctx
        t0 = now()
        self.ingest_ops = self.ingest.run(spark)
        self.info = {"ingest_s": (sum(o.latency_s for o in self.ingest_ops[: len(STAGES)]), "s")}
        self.index = spark.read.parquet(self.mirror)
        self.cik_map = cik_map.read_cik_map(spark, self.inp["tickers_path"])
        self.cik_map.count()
        ctx.setup_parts["workload_s"] = now() - t0
        if ctx.trace:
            # resolve_ciks is called inside filings(); record it as its
            # own span by wrapping the module attribute filings() imports.
            self.restore = (cik_map, cik_map.resolve_ciks)
            cik_map.resolve_ciks = ctx.tracer.wrap("sources.cik_map.resolve_ciks", cik_map.resolve_ciks)

    def lookup(self, spark, spec: dict, traced: bool):
        """Build and run one lookup; returns (build_s, rows)."""
        from sec_edgar_spark.plans import filings as plans

        t0 = now()
        with self.ctx.span("plans.filings.build", traced):
            kw = {"start_date": spec["start"], "end_date": spec["end"]}
            if "form" in spec:
                kw["filing_type"] = spec["form"]
            if "count" in spec:
                kw["count"] = spec["count"]
            if "terms" in spec:
                kw["cik_lookup"] = spark.createDataFrame([(t,) for t in spec["terms"]], "lookup_term string")
                kw["cik_map"] = self.cik_map
            df = plans.filings(self.index, **kw)
            if spec["kind"] == "grouped":
                df = plans.grouped_urls(df)
        build = now() - t0
        with self.ctx.span("plans.filings.exec", traced):
            rows = df.collect()
        return build, rows

    def client(self, spark, order: list[int], deadline: float | None, out: list):
        """Closed loop over ``order`` until ``deadline``, or through
        ``order`` once when there is no deadline (the warm-up, never
        traced)."""
        specs = self.inp["specs"]
        coin = random.Random(f"{self.ctx.seed}:{order[0]}")  # traced or not, per op
        i = 0
        while (deadline is None and i < len(order)) or (deadline is not None and now() < deadline):
            k = order[i % len(order)]
            traced = self.ctx.trace and deadline is not None and coin.random() < 0.5
            group = self.ctx.next_group(specs[k]["kind"])
            t0 = now()
            try:
                with self.ctx.job_group(group, traced), self.ctx.span("lookup", traced):
                    build, rows = self.lookup(spark, specs[k], traced)
                out.append((Op(specs[k]["kind"], now() - t0, build, traced, group, end=now()), k, result_digest(specs[k]["kind"], rows)))
            except Exception:  # noqa: BLE001 - one failed lookup must not stop the loop
                self.ctx.record_failure(f"lookup {specs[k]}")
                out.append((Op(specs[k]["kind"], now() - t0, 0.0, traced, group, ok=False, end=now()), k, None))
            i += 1

    def loop(self, spark, orders: list[list[int]], deadline: float | None) -> list:
        """Run one client per order concurrently; returns every
        (op, spec index, result digest)."""
        outs = [[] for _ in orders]
        threads = [
            threading.Thread(target=self.client, args=(spark, order, deadline, out), name=f"client-{c}")
            for c, (order, out) in enumerate(zip(orders, outs))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [x for o in outs for x in o]

    def run(self, spark):
        ctx = self.ctx
        specs = self.inp["specs"]
        n, period = len(specs), len(SPEC_PATTERN)
        # Warm-up: each client walks its share of the pool in pattern
        # order, so every kind warms up in proportion to the mix.
        per = WARMUP_LOOKUPS // CLIENTS
        t0 = now()
        warm = self.loop(spark, [[(c * n // CLIENTS + i) % n for i in range(per)] for c in range(CLIENTS)], None)
        ctx.setup_parts["warmup_s"] = now() - t0
        # Each client walks the pool from the start of a kind pattern (a
        # seeded one), the clients half a pattern apart: every run then
        # measures the same kind mix, and the clients' company lookups
        # do not line up.
        off = period * random.Random(f"{ctx.seed}:clients").randrange(n // period)
        orders = [[(off + c * period // CLIENTS + i) % n for i in range(n)] for c in range(CLIENTS)]
        start = now()
        results = self.loop(spark, orders, start + ctx.seconds)
        elapsed = max(o.end for o, _, _ in results) - start
        if ctx.trace:
            mod, fn = self.restore
            mod.resolve_ciks = fn
        # Output checks, outside the timed phases.
        self.ingest.check_rounds()
        rows = [r + (pos,) for f, rs in self.inp["mirror_rows"].items() for pos, r in enumerate(rs)]
        expected = {}
        for op, k, got in warm + results:
            ctx.attempted += 1
            if not op.ok:
                continue
            if k not in expected:
                expected[k] = expected_digest(self.inp["specs"][k], rows, self.inp["tickers"])
            if got != expected[k]:
                op.ok = False
                ctx.record_wrong(f"lookup {self.inp['specs'][k]}")
        ctx.ops = [o for o, _, _ in results]
        ok = [o for o in ctx.ops if o.ok]
        timed = [o for o in ok if not o.traced] or ok
        ctx.latencies = [o.latency_s for o in timed]
        kind_s = {}
        for o in timed:
            kind_s.setdefault(o.kind, []).append(o.latency_s)
        kind_p50 = {k: median(kind_s[k]) for k in dict.fromkeys(SPEC_PATTERN) if k in kind_s}
        # One round = one client through the spec pool: the sum over the
        # pool of each spec's kind median latency under both clients'
        # load.  Lookups finished per second would move with where the
        # cut-off falls in the kind pattern, whose kinds differ in cost
        # by up to 8x.
        ctx.round_s = sum(kind_p50.get(s["kind"], 0.0) for s in self.inp["specs"])
        # Printed, not gated: the measured rate and each kind's median.
        self.info["lookup_qps"] = (len(ctx.ops) / elapsed, "1/s")
        for kind, v in kind_p50.items():
            self.info[f"lookup_{kind}_p50_ms"] = (1e3 * v, "ms")

    def layers(self, groups: dict) -> None:
        """Named layer metrics of the ingest phase and the lookups, from
        spans and engine groups."""
        ctx = self.ctx
        self.ingest.layers(groups, self.ingest_ops)
        sp = ctx.tracer.spans
        build = [s.duration for s in sp if s.name == "plans.filings.build"]
        execs = [s.duration for s in sp if s.name == "plans.filings.exec"]
        res = [s.duration for s in sp if s.name == "sources.cik_map.resolve_ciks"]
        traced = [o for o in ctx.ops if o.traced and o.ok and o.group in groups]
        n = max(1, len(traced))
        tot = lambda k: sum(groups[o.group][k] for o in traced)  # noqa: E731
        ctx.layer.update({
            "plans.filings.build_ms": (1e3 * median(build) if build else 0.0, "ms"),
            "plans.filings.exec_ms": (1e3 * median(execs) if execs else 0.0, "ms"),
            "plans.filings.jobs_per_lookup": (tot("jobs") / n, "count"),
            "plans.filings.tasks_per_lookup": (tot("tasks") / n, "count"),
            "sources.index.files_read_per_lookup": (tot("files_read") / n, "count"),
            "sources.cik_map.resolve_ms": (1e3 * median(res) if res else 0.0, "ms"),
            "engine.lookup.scheduler_delay_ms": (1e3 * tot("scheduler_delay_s") / n, "ms"),
        })
