"""The workloads and the operations each one times.

- ``doc_ingest``: passes of an invoice PDF corpus through
  ``read_pdf_files -> validate_pdf_ingress -> extract_pdf_text ->
  process_documents -> sinks.write_routed``;
- ``query_mix``: seed-shuffled passes over a mix of declared queries, each
  built and then collected. One of them writes and reads a commit-log table
  through ``operators.tablefmt`` and ``streaming.table_source``.

Each workload is one client in a closed loop. Its unit of work (a pass) is
a sequence of operations; each is timed from outside the engine and its
output is checked outside the timed region. A raised exception or a wrong
output counts as a failed operation and the loop goes on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import traceback
from collections import Counter
from dataclasses import dataclass
from decimal import Decimal

import numpy as np

from perfbench import checks, gen
from perfbench.trace import Tracer

# query mix: short Catalyst queries from three plan modules, a tail of
# iterative Python-kernel operators whose builders run eager Spark jobs, and
# a table-format query (create, append and SQL reads of a commit-log table
# through the native source). Short queries stay the majority so the median
# falls among them and the 90th percentile among the tail.
MIX_SHORT = [
    "q_agg_group", "q_window_rank", "q_join_semi", "q_topk",
    "q_join_inner_broadcast",  # relational
    "q_tpch_q3_shape", "q_having_large_orders",  # tpch_shapes
    "q_stream_tumbling", "q_session_window", "q_stream_dedup",  # streaming_queries
]
MIX_TAIL = ["q_pagerank", "q_dedup_minhash", "q_recursive_cte", "q_table_sql"]
MIX = MIX_SHORT + MIX_TAIL
N_DOCS = 600  # PDFs per doc_ingest pass
# PDFs of the first doc_ingest warm-up pass: a cold pass pays for starting the
# Python workers and compiling the plan whatever its size, and costs ~14 s
# at 100 PDFs against ~21 s at 600 (4-core VM)
N_WARM_DOCS = 100
MODULES = ["relational", "tpch_shapes", "streaming_queries", "llmdata_queries",
           "mlstats_queries", "analytics_queries"]


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100), interpolated between samples; 0
    when there are none (every operation failed)."""
    values = np.asarray(values, dtype=float)
    return float(np.percentile(values, q)) if values.size else 0.0


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


@dataclass
class Sample:
    op: str
    seconds: float
    ok: bool
    kind: str
    unit: int  # index of the unit (pass) the operation ran in
    traced: bool  # whether the tracer recorded it


def ok_seconds(samples: list[Sample], kind: str) -> list[float]:
    """Seconds of the successful operations of one kind."""
    return [s.seconds for s in samples if s.ok and s.kind == kind]


# the end-to-end metrics every workload reports: name -> (unit, better)
E2E = {"items_per_s": ("1/s", "higher"), "op_p50_s": ("s", "lower"),
       "op_p90_s": ("s", "lower")}


def end_to_end(samples: list[Sample], family) -> dict:
    """A workload's end-to-end metrics from its samples. ``items_per_s`` is
    the workload's items (PDFs or queries) per pass over the pass's summed
    operation time, median over passes; ``op_p50_s`` and ``op_p90_s`` are
    percentiles of the successful operations' latencies (an operation is
    one ingest pass or one query)."""
    unit_s: dict[int, float] = {}  # unit -> summed seconds of its operations
    for s in samples:
        if s.kind == family.OP_KIND:
            unit_s[s.unit] = unit_s.get(s.unit, 0.0) + s.seconds
    ops = ok_seconds(samples, family.OP_KIND)
    return {"items_per_s": median(family.ITEMS / t for t in unit_s.values()),
            "op_p50_s": percentile(ops, 50), "op_p90_s": percentile(ops, 90)}


class Context:
    """Shared run state: session, tracer, work directory and samples."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.unit = 0
        self.samples: list[Sample] = []

    def op(self, name: str, body, check=None, kind: str = "", **attrs) -> None:
        """Time ``body()`` in a span; check its result outside the span."""
        err, out, traced = None, None, self.tracer.enabled
        with self.tracer.span(name, kind=kind, **attrs) as sp:
            try:
                out = body()
            except Exception as e:  # noqa: BLE001 -- count the failure, keep looping
                err = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        if err is None and check is not None:
            err = check(out)
        if err is not None:
            print(f"[perfbench] {name} failed: {err}", file=sys.stderr)
        self.samples.append(Sample(name, sp.duration, err is None, kind, self.unit, traced))

    def spans(self, name: str) -> list:
        return [s for s in self.tracer.spans if s.name == name]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Ingest:
    """``doc_ingest``: the reference's real traffic, end to end."""

    MIN_UNITS = 3
    TRACED_UNITS = 6  # half traced, half not; each traced pass adds a chain round
    ITEMS, OP_KIND = N_DOCS, "pass"
    LAYER_UNITS = {
        "sources.read_pdf_files_s": "s", "sources.extract_pdf_text_s": "s",
        "sources.extract_docs_per_s": "1/s", "functions.normalize_text_s": "s",
        "functions.parse_invoices_arrow_s": "s", "pipeline.process_documents_s": "s",
        "sinks.write_routed_s": "s", "pipeline.build_s": "s",
        "sources.ingress_reject_frac": "ratio",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    }

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "pdfs")
        self.warm_src = os.path.join(ctx.work, "warm-pdfs")
        self.out = os.path.join(ctx.work, "routed")
        self.corpus: "gen.Corpus | None" = None
        self.warm_corpus: "gen.Corpus | None" = None
        self.rejected: list[float] = []  # share the ingress gate dropped, per pass

    def generate(self) -> None:
        self.corpus = gen.invoice_corpus(self.ctx.seed, N_DOCS)
        self.corpus.write(_fresh(self.src))
        self.warm_corpus = gen.invoice_corpus(self.ctx.seed + 1, N_WARM_DOCS)
        self.warm_corpus.write(_fresh(self.warm_src))

    def prepare(self) -> None:
        self.ctx.op("ingest.canary", lambda: None, lambda _: gen.check_canary(),
                    kind="check")

    def _extracted(self, src: "str | None" = None):
        from rpa_etl_spark.sources import pdf as S

        spark = self.ctx.spark
        return S.extract_pdf_text(S.validate_pdf_ingress(S.read_pdf_files(spark, src or self.src)))

    def warmup(self) -> None:
        """A cold pass over the small warm-up corpus, then one full pass
        (the first full pass after a cold one still runs ~20% slow)."""
        self._pass(self.warm_src, self.warm_corpus)
        self._pass(self.src, self.corpus)
        self.rejected.clear()

    def unit(self) -> None:
        self._pass(self.src, self.corpus)
        if self.ctx.tracer.enabled:
            self.chain_round()

    def _pass(self, src: str, corpus: "gen.Corpus") -> None:
        from rpa_etl_spark import pipeline
        from rpa_etl_spark.sources import sinks

        tr = self.ctx.tracer

        def body():
            with tr.span("pipeline.build"):
                df = pipeline.process_documents(self._extracted(src))
            with tr.span("sinks.write_routed"):
                sinks.write_routed(df, "route", self.out)

        self.ctx.op("ingest.pass", body, lambda _: self.check(corpus), kind="pass")

    def check(self, corpus: "gen.Corpus") -> "str | None":
        import pyarrow.dataset as ds

        t = ds.dataset(self.out, format="parquet", partitioning="hive").to_table(
            columns=["status", "route", "trust_score"])
        got = Counter(zip(t["status"].to_pylist(), t["route"].to_pylist()))
        trust = sum(t["trust_score"].to_pylist(), Decimal("0.00"))
        n_in = len(corpus.docs)
        self.rejected.append((n_in - t.num_rows) / n_in)
        return checks.check_tallies(got, trust, corpus.tallies, corpus.trust_sum)

    def chain_round(self) -> None:
        """After each traced pass: execute each stage-prefix chain
        once into the ``noop`` sink, one span per chain. With the pass itself
        (which ends in ``sinks.write_routed``) this is one round of chains."""
        from pyspark.sql import functions as F

        from rpa_etl_spark import pipeline
        from rpa_etl_spark.functions import parsing_arrow as PA
        from rpa_etl_spark.functions import text as T
        from rpa_etl_spark.sources import pdf as S

        spark = self.ctx.spark

        def normalized():
            return self._extracted().withColumn(
                "normalized_text", T.normalize_text(F.col("text")))

        chains = {
            "read": lambda: S.read_pdf_files(spark, self.src),
            "extract": self._extracted,
            "normalize": normalized,
            "parse": lambda: PA.parse_invoices_arrow(normalized(), text_col="normalized_text"),
            "process": lambda: pipeline.process_documents(self._extracted()),
        }
        for name, build in chains.items():
            df = build()
            with self.ctx.tracer.span(f"chain.{name}"):
                df.write.format("noop").mode("overwrite").save()

    def layers(self) -> dict:
        """Each stage is the median of its prefix chain minus the median of
        the chain before it; the last chain is the pass's own write."""
        c = {name: median(s.duration for s in self.ctx.spans(f"chain.{name}"))
             for name in ("read", "extract", "normalize", "parse", "process")}
        c["write"] = median(s.duration for s in self.ctx.spans("sinks.write_routed"))
        passes = self.ctx.spans("ingest.pass")
        return {
            "sources.read_pdf_files_s": c["read"],
            "sources.extract_pdf_text_s": c["extract"] - c["read"],
            "sources.extract_docs_per_s": N_DOCS / c["extract"],
            "functions.normalize_text_s": c["normalize"] - c["extract"],
            "functions.parse_invoices_arrow_s": c["parse"] - c["normalize"],
            "pipeline.process_documents_s": c["process"] - c["parse"],
            "sinks.write_routed_s": c["write"] - c["process"],
            "pipeline.build_s": median(s.duration for s in self.ctx.spans("pipeline.build")),
            "sources.ingress_reject_frac": median(self.rejected),
            "spark.jobs": median(s.jobs for s in passes),
            "spark.stages": median(s.stages for s in passes),
            "spark.tasks": median(s.tasks for s in passes),
        }


class Queries:
    """``query_mix``: declared queries checked against their DuckDB oracles."""

    MIN_UNITS = 1
    TRACED_UNITS = 4
    ITEMS, OP_KIND = len(MIX), "query"
    LAYER_UNITS = {
        "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_tasks": "count",
        "spark.exec_s": "s", "spark.exec_jobs": "count", "spark.exec_stages": "count",
        "spark.exec_tasks": "count",
        **{f"{m}.exec_s": "s" for m in MODULES},
        **{f"{q}.{k}": ("s" if k.endswith("_s") else "count")
           for q in MIX_TAIL for k in ("build_s", "exec_s", "build_jobs", "exec_jobs")},
    }

    def __init__(self, ctx: Context):
        from rpa_etl_spark import registry

        registry.load_all_plans()
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "tables")
        self.fns = {n: registry.QUERIES[n] for n in MIX}
        self.oracles = {n: registry.ORACLES[n] for n in MIX}
        self.modules = {n: fn.__module__.rsplit(".", 1)[-1] for n, fn in self.fns.items()}
        self.want: dict[str, str] = {}
        self.order_rng = np.random.default_rng([ctx.seed, 3])

    def generate(self) -> None:
        gen.write_tables(self.ctx.seed, _fresh(self.dir))

    def prepare(self) -> None:
        """DuckDB oracle digest of every mix query; once per run, untimed."""
        from tests.oracle import run_oracle

        for n, sql in self.oracles.items():
            cols, pdf = run_oracle(sql, self.dir)
            self.want[n] = checks.result_digest(cols, pdf)

    def run_one(self, name: str) -> None:
        import pandas as pd

        tr = self.ctx.tracer

        def body():
            with tr.span("plans.build", query=name):
                df = self.fns[name](self.ctx.spark, self.dir)
            with tr.span("spark.exec", query=name):
                rows = df.collect()
            return df.columns, rows

        def check(out):
            cols, rows = out
            got = checks.result_digest(cols, pd.DataFrame([tuple(r) for r in rows], columns=cols))
            return checks.check_digest(name, got, self.want[name])

        self.ctx.op(name, body, check, kind="query")

    def warmup(self) -> None:
        self.unit()

    def unit(self) -> None:
        """One pass over the mix in a seed-shuffled order."""
        for i in self.order_rng.permutation(len(MIX)):
            self.run_one(MIX[i])

    def layers(self) -> dict:
        builds, execs = self.ctx.spans("plans.build"), self.ctx.spans("spark.exec")
        n_pass = len(execs) / len(MIX)
        per_pass = lambda spans, f: sum(f(s) for s in spans) / n_pass  # noqa: E731
        out = {
            "plans.build_s": per_pass(builds, lambda s: s.duration),
            "plans.build_jobs": per_pass(builds, lambda s: s.jobs),
            "plans.build_tasks": per_pass(builds, lambda s: s.tasks),
            "spark.exec_s": per_pass(execs, lambda s: s.duration),
            "spark.exec_jobs": per_pass(execs, lambda s: s.jobs),
            "spark.exec_stages": per_pass(execs, lambda s: s.stages),
            "spark.exec_tasks": per_pass(execs, lambda s: s.tasks),
        }
        for m in MODULES:
            out[f"{m}.exec_s"] = per_pass(
                [s for s in execs if self.modules[s.attrs["query"]] == m], lambda s: s.duration)
        for q in MIX_TAIL:
            b = [s for s in builds if s.attrs["query"] == q]
            e = [s for s in execs if s.attrs["query"] == q]
            out.update({
                f"{q}.build_s": median(s.duration for s in b),
                f"{q}.exec_s": median(s.duration for s in e),
                f"{q}.build_jobs": median(s.jobs for s in b),
                f"{q}.exec_jobs": median(s.jobs for s in e),
            })
        return out


WORKLOADS = {"doc_ingest": Ingest, "query_mix": Queries}
