"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload doc_ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (spans are written under ``.perfbench_work/spans``).
Progress and failures go to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


RSS_PERIOD_S = 0.2


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        me = os.getpid()
        total = 0
        for pid in rss:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += rss[pid]
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._halt.wait(RSS_PERIOD_S)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def start_spark():
    from rpa_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- still running: end it
            proc.kill()
            proc.wait(timeout=30)


TRACE_UNITS = {"host.cpus": "count", "session.get_spark_s": "s", "setup.generate_s": "s",
               "setup.prepare_s": "s", "setup.warmup_s": "s", "memory.peak_rss_mb": "MB",
               "trace.spans": "count", "trace.bookkeeping_s": "s"}


def overhead(traced: float, plain: float, better: str) -> float:
    """Share by which tracing worsens a metric (0.02 = 2% worse)."""
    return traced / plain - 1 if better == "lower" else plain / traced - 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rpa_etl_spark")):
        log(f"no rpa_etl_spark package under {ROOT}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import E2E, WORKLOADS, Context, end_to_end

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    cpus = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers import the engine from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # scratch files of Spark, the JVM and Python stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_NO_PROGRESS"] = "1"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    log(f"workload {args.workload}, seed {args.seed}, local[{cpus}], trace {args.trace}")

    rss = RssSampler() if args.trace else None  # memory is a per-layer figure
    if rss is not None:
        rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)  # setup runs untraced
        ctx = Context(spark, tracer, work, args.seed)
        family = WORKLOADS[args.workload]
        fam = family(ctx)

        # setup: generate the inputs, check the oracles, then the workload's
        # warm-up, which is not recorded
        t = time.perf_counter()
        fam.generate()
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        fam.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        fam.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + generate_s + prepare_s + warmup_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, generate {generate_s:.2f}, "
            f"prepare {prepare_s:.2f}, warm-up {warmup_s:.2f})")
        setup_failed = sum(not s.ok for s in ctx.samples)
        ctx.samples.clear()

        # closed loop of whole units (passes): at least the workload's
        # minimum, and on until the time is up. A traced run interleaves
        # traced and untraced units in the order T U U T T U ... so that the
        # JVM's warming drift falls on both sides, and reports its own
        # tracing overhead from them.
        min_units = family.TRACED_UNITS if args.trace else family.MIN_UNITS
        start = time.perf_counter()
        while ctx.unit < min_units or time.perf_counter() < start + args.seconds:
            tracer.enabled = bool(args.trace) and ctx.unit % 4 in (0, 3)
            fam.unit()
            ctx.unit += 1
        log(f"{ctx.unit} units, {len(ctx.samples)} operations in "
            f"{time.perf_counter() - start:.2f}s")

        attempted = len(ctx.samples)
        failed = sum(not s.ok for s in ctx.samples) + setup_failed
        log(f"{failed} of {attempted} operations failed ({failed / attempted:.1%})")
        for op in sorted({s.op for s in ctx.samples}):
            secs = [s.seconds for s in ctx.samples if s.op == op]
            log(f"  {op}: n={len(secs)} median {statistics.median(secs):.3f}s "
                f"(min {min(secs):.3f}, max {max(secs):.3f})")
        if args.trace:
            traced = end_to_end([s for s in ctx.samples if s.traced], family)
            plain = end_to_end([s for s in ctx.samples if not s.traced], family)
            units_of = {
                **TRACE_UNITS, **{f"traced.{k}": u for k, (u, _) in E2E.items()},
                **{f"trace.overhead.{k}": "ratio" for k in E2E},
                **{k: u for w in WORKLOADS.values() for k, u in w.LAYER_UNITS.items()},
            }
            # every traced run prints every per-layer metric; a layer the
            # workload does not call did no work and reads 0
            values = dict.fromkeys(units_of, 0.0)
            values.update({
                "host.cpus": cpus, "session.get_spark_s": session_s,
                "setup.generate_s": generate_s, "setup.prepare_s": prepare_s,
                "setup.warmup_s": warmup_s, "memory.peak_rss_mb": rss.peak_bytes / 2**20,
                "trace.spans": len(tracer.spans), "trace.bookkeeping_s": tracer.bookkeeping_s,
                **{f"traced.{k}": v for k, v in traced.items()},
                **{f"trace.overhead.{k}": overhead(v, plain[k], E2E[k][1])
                   for k, v in traced.items() if v and plain[k]},
                **fam.layers(),
            })
            os.makedirs(os.path.join(work_root, "spans"), exist_ok=True)
            tracer.dump(os.path.join(work_root, "spans", f"{args.workload}-{args.seed}.jsonl"))
        else:
            values = {"setup_s": setup_s, **end_to_end(ctx.samples, family)}
            units_of = {"setup_s": "s", **{k: u for k, (u, _) in E2E.items()}}
    finally:
        if spark is not None:
            stop_spark(spark)
        if rss is not None:
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
