"""The ingest phase of the ``lookup`` workload: one bulk batch from raw
EDGAR files to written parquet, which builds the mirror the lookups
then read.

A round scans quarterly + daily master.idx into the partitioned mirror,
upserts a revised quarter, streams the daily drops through the parquet
sink, parses the SGML containers into documents and the Form-4 XML into
transactions.  Each round writes to its own directory."""

from __future__ import annotations

import os
import traceback

from .common import Op, digest, median, now

STAGES = ("index_mirror", "index_upsert", "daily_stream", "sgml_parse", "form4_parse")


def _rows(path: str, cols: list[str]) -> list[tuple]:
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return list(zip(*(map(str, t.column(c).to_pylist()) for c in cols)))


class Ingest:
    def __init__(self, ctx, inputs):
        self.ctx = ctx
        self.inp = inputs
        self.stream_progress: dict[str, list] = {}  # op group -> progress

    def stage(self, spark, name: str, out: str, traced: bool, rnd: int) -> float:
        """Run one ingest stage; returns its driver-side build time."""
        from pyspark.sql import functions as F

        from sec_edgar_spark.parsing import form4, meta
        from sec_edgar_spark.sources import index as idx
        from sec_edgar_spark.streaming import daily_feed, parquet_sink

        sp = self.ctx.span
        t0 = now()
        if name == "index_mirror":
            with sp("sources.index.read_master_idx", traced):
                df = idx.read_master_idx(spark, self.inp["quarterly_files"] + self.inp["daily_files"])
            build = now() - t0
            with sp("sources.index.to_parquet_mirror", traced):
                idx.to_parquet_mirror(df, f"{out}/mirror")
        elif name == "index_upsert":
            with sp("sources.index.read_master_idx", traced):
                df = idx.read_master_idx(spark, [self.inp["revised_file"]])
            build = now() - t0
            with sp("sources.index.upsert_parquet_mirror", traced):
                idx.upsert_parquet_mirror(df, f"{out}/mirror")
        elif name == "daily_stream":
            with sp("streaming.daily_feed.read_daily_feed", traced):
                feed = daily_feed.read_daily_feed(spark, self.inp["daily_dir"])
            build = now() - t0
            with sp("streaming.parquet_sink.run", traced):
                q = parquet_sink.start_partitioned_parquet_sink(
                    feed, f"{out}/stream", ["date_filed"], f"{out}/checkpoint",
                    sort_cols=["cik"], query_name=f"daily_{rnd}",
                )
                if traced:
                    self.ctx.groups_extra[str(q.runId)] = self.current_group
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()
            self.stream_progress[self.current_group] = [p for p in q.recentProgress if p["numInputRows"] > 0]
        elif name == "sgml_parse":
            with sp("parsing.meta.parse_filings", traced):
                docs = meta.documents_table(meta.parse_filings(meta.read_filings(spark, self.inp["filings_glob"])))
            build = now() - t0
            with sp("parsing.meta.write", traced):
                docs.write.mode("overwrite").parquet(f"{out}/documents")
        else:
            with sp("parsing.form4.parse_form4", traced):
                raw = meta.read_filings(spark, self.inp["form4_glob"])
                xml = raw.select(
                    F.regexp_extract("path", r"([^/]+)\.xml$", 1).alias("accession_number"),
                    F.col("content").alias("xml"),
                )
                tx = form4.parse_form4(xml)
            build = now() - t0
            with sp("parsing.form4.write", traced):
                tx.write.mode("overwrite").parquet(f"{out}/form4")
        return build

    def round(self, spark, rnd: int, traced) -> list[Op]:
        """Run every stage once; ``traced(i)`` says whether stage ``i``
        is traced."""
        out = os.path.join(self.ctx.work, "ingest", f"round-{rnd}")
        ops = []
        for i, name in enumerate(STAGES):
            traced_i = traced(i)
            group = self.ctx.next_group(name)
            self.current_group = group
            t0 = now()
            try:
                with self.ctx.job_group(group, traced_i), self.ctx.span(f"ingest.{name}", traced_i):
                    build = self.stage(spark, name, out, traced_i, rnd)
                ops.append(Op(name, now() - t0, build, traced_i, group, end=now()))
            except Exception:  # noqa: BLE001 - record and go on with the round
                self.ctx.record_failure(f"ingest {name} round {rnd}")
                ops.append(Op(name, now() - t0, 0.0, traced_i, group, ok=False, end=now()))
        return ops

    def check(self, rnd: int, ops: list[Op]) -> None:
        """Compare one round's written outputs with the generator's
        counts; the streamed rows must equal the batch rows of the same
        daily files."""
        out = os.path.join(self.ctx.work, "ingest", f"round-{rnd}")
        inp = self.inp
        v = inp["valid_rows"]
        want_mirror = sum(v[p] for p in inp["quarterly_files"][:-1]) + inp["revised_rows"] + sum(v[p] for p in inp["daily_files"])
        cols = ["cik", "form_type", "date_filed", "file_name"]
        checks = {}
        try:
            mirror = _rows(f"{out}/mirror", cols + ["year"])
            daily_years = {"1997", "2024"}
            batch_daily = sorted(r[:4] for r in mirror if r[4] in daily_years)
            stream = sorted(_rows(f"{out}/stream", cols))
            checks["index_mirror"] = len(mirror) == want_mirror
            checks["index_upsert"] = checks["index_mirror"]
            checks["daily_stream"] = (
                len(stream) == sum(v[p] for p in inp["daily_files"]) and digest(stream) == digest(batch_daily)
            )
            docs = _rows(f"{out}/documents", ["accession_number", "is_uuencoded"])
            checks["sgml_parse"] = (
                len(docs) == inp["documents"]
                and sum(r[1] == "True" for r in docs) == inp["uuencoded_filings"]
                and len({r[0] for r in docs}) == inp["filings"]
            )
            tx = _rows(f"{out}/form4", ["accession_number"])
            checks["form4_parse"] = len(tx) == inp["form4_transactions"] and len(set(tx)) == inp["form4_docs"]
        except Exception:  # noqa: BLE001 - unreadable output: unchecked ops count as wrong
            traceback.print_exc()
        for op in ops:
            self.ctx.attempted += 1
            if op.ok and not checks.get(op.kind, False):
                op.ok = False
                self.ctx.record_wrong(f"ingest {op.kind} round {rnd}")

    def run(self, spark) -> list[Op]:
        """One cold round, as a batch job pays it.  Traced runs make two
        rounds, each stage traced in one and untraced in the other (the
        order alternating by stage), for the tracing overhead."""
        if self.ctx.trace:
            self.rounds = {1: self.round(spark, 1, lambda i: i % 2 == 0), 2: self.round(spark, 2, lambda i: i % 2 == 1)}
        else:
            self.rounds = {1: self.round(spark, 1, lambda i: False)}
        return [o for ops in self.rounds.values() for o in ops]

    def check_rounds(self) -> None:
        for r, ops in self.rounds.items():
            self.check(r, ops)

    def layers(self, groups: dict, all_ops: list[Op]) -> None:
        ctx = self.ctx
        ops = {o.kind: o for o in all_ops if o.traced and o.group in groups}
        sp = ctx.tracer.spans
        span_s = lambda n: median([s.duration for s in sp if s.name == n] or [0.0])  # noqa: E731
        g = lambda kind, k: groups[ops[kind].group][k] if kind in ops else 0.0  # noqa: E731
        inp = self.inp
        scanned = inp["quarterly_files"] + inp["daily_files"]
        lines = sum(inp["banner_lines"] + inp["valid_rows"][p] + inp["malformed_lines"][p] for p in scanned)
        out = os.path.join(ctx.work, "ingest", "round-1")
        progress = self.stream_progress.get(ops["daily_stream"].group, []) if "daily_stream" in ops else []
        rows = sum(p["numInputRows"] for p in progress)
        ctx.layer.update({
            "sources.index.scan_s": (g("index_mirror", "scan_task_s"), "s"),
            "sources.index.valid_ratio": (sum(inp["valid_rows"][p] for p in scanned) / lines, "ratio"),
            "sources.index.mirror_write_s": (span_s("sources.index.to_parquet_mirror"), "s"),
            "sources.index.upsert_s": (span_s("sources.index.upsert_parquet_mirror"), "s"),
            "sources.index.mirror_files": (sum(f.endswith(".parquet") for _, _, fs in os.walk(f"{out}/mirror") for f in fs), "count"),
            "parsing.meta.parse_s": (ops["sgml_parse"].latency_s if "sgml_parse" in ops else 0.0, "s"),
            "parsing.meta.tasks_per_filing": (g("sgml_parse", "tasks") / inp["filings"], "count"),
            "parsing.meta.docs_out": (inp["documents"], "count"),
            "parsing.form4.parse_s": (ops["form4_parse"].latency_s if "form4_parse" in ops else 0.0, "s"),
            "parsing.form4.txn_rows": (inp["form4_transactions"], "count"),
            "streaming.daily_feed.batches": (len(progress), "count"),
            "streaming.daily_feed.batch_p50_ms": (median([p["durationMs"].get("triggerExecution", 0) for p in progress] or [0]), "ms"),
            "streaming.daily_feed.rows_per_s": (rows / ops["daily_stream"].latency_s if "daily_stream" in ops else 0.0, "1/s"),
            "streaming.parquet_sink.addbatch_ms": (median([p["durationMs"].get("addBatch", 0) for p in progress] or [0]), "ms"),
        })
