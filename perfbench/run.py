"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload cur_sync --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run generates its inputs from the
seed under ``.perfbench_work/``, builds a Spark session on
``local[<cores>]`` on a freshly launched JVM several times and keeps
the last one, checks the engine's outputs outside the timed window, then times whole rounds
of the workload's operations, one at a time (a closed loop with one
client).  The window is a fixed number of rounds, ``--seconds``
divided by the workload's nominal round time, so every run of every
commit times the same operations at the same point of its warm-up.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs half
as many rounds and every operation twice, once plain and once with
spans around the calls into each engine layer (alternating which goes
first), prints the per-layer metrics instead and writes every span to
``.perfbench_work/traces/``.  The last line of standard output is one
JSON object; the exit code is 0 only if every check passed and no
operation failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from spans import Instrumentation, SparkJobCounter, Tracer  # noqa: E402

SETUPS = 2  # cold set-ups per run, each on a new JVM; set-up time is their median
# The JVM heap may grow to 1 GiB (-Xmx only): under the engine's 8g
# default the collector's heap sizing moved peak RSS by a third
# between runs.
DRIVER_MEMORY = "1g"

# Span names for the sink and operator calls ``pipeline.sync`` makes.
PIPELINE_SPANS = {
    ("pipeline", "write_parquet_partitioned"): "sources.sinks.write_raw",
    ("pipeline", "write_costs_partitioned"): "sources.sinks.write_normalized",
    ("pipeline", "append_sync_log"): "sources.sync_log.append",
    ("pipeline", "normalize_mapped"): "operators.normalize",
    ("pipeline", "create_costs_view"): "operators.union_view",
}


def since_process_start() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine(work: str) -> str:
    """Point every scratch location Spark, the JVM and Python use at
    ``work`` so the run writes nothing outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    return tmp


def build(tmp: str, tracer: Tracer | None):
    from poet_cloud_cost_etl_spark.session import build_session

    def go():
        spark = build_session(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    if tracer is None:
        return go()
    with tracer.span("session.build_session"):
        return go()


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the VmHWM of ``pids`` from their current RSS."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    standard input closes) and for the Python workers it started.  The
    next session built launches a new JVM."""
    import signal

    from pyspark import SparkContext

    proc = jvm_process()
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.close()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class Runner:
    """Runs operations and logs them, plain and (in traced runs) traced."""

    def __init__(self, workload, spark, tracer: Tracer | None = None):
        self.workload = workload
        self.spark = spark
        self.tracer = tracer
        self.plain = stats.OpLog()
        self.traced = stats.OpLog()
        self.records: list[dict] = []  # one per traced operation
        self.problems: list[str] = []
        self.round_s: list[float] = []  # plain operation time per round
        self.round_items: list[int] = []  # items completed per round
        if tracer is not None:
            self.inst = Instrumentation(
                tracer, PIPELINE_SPANS, {"catalog.spread_small_scan": count_repartition}
            )
            self.counter = SparkJobCounter(spark.sparkContext)

    def execute(self, op, traced: bool) -> None:
        log = self.traced if traced else self.plain
        idx = log.attempted
        if op.prepare:
            op.prepare()
        if traced:
            self.inst.install()
            self.workload.tracer = self.tracer
            self.tracer.op = idx
            self.counter.begin(f"perfbench-{idx}", op.name)
        t0 = time.perf_counter()
        try:
            op.run()
            dt = time.perf_counter() - t0
        except Exception as exc:  # a failed operation is counted, not fatal
            log.fail(f"{op.name}: {exc!r}"[:500])
            return
        finally:
            if traced:
                self.inst.undo()
                self.workload.tracer = None
                self.tracer.op = None
        if traced:
            jobs, stages, tasks = self.counter.end(f"perfbench-{idx}")
            self.records.append({"name": op.name, "s": dt, "jobs": jobs, "stages": stages, "tasks": tasks})
        bad = op.verify() if op.verify else []
        if bad:
            self.problems += bad
            log.fail(bad[0])
        else:
            log.ok(op.name, dt, op.items)

    def window(self, rng: random.Random, rounds: int) -> None:
        """Run ``rounds`` whole rounds."""
        for _ in range(rounds):
            done, items_before = len(self.plain.latencies_s), self.plain.items
            for k, op in enumerate(self.workload.round(self.spark, rng)):
                if self.tracer is None:
                    self.execute(op, False)
                else:
                    for traced in ((False, True) if k % 2 == 0 else (True, False)):
                        self.execute(op, traced)
            self.round_s.append(sum(self.plain.latencies_s[done:]))
            self.round_items.append(self.plain.items - items_before)
            if len(self.plain.latencies_s) == done:
                break  # a round in which every operation failed


def count_repartition(tracer, args, result) -> None:
    if args and result is not args[0]:
        tracer.count("catalog.spread_small_scan.repartitions")


def end_to_end(setup_samples, runner: Runner, pids) -> dict:
    rates = [i / s for i, s in zip(runner.round_items, runner.round_s) if s > 0]
    lat = runner.plain.latencies_s
    return {
        "setup_s": (statistics.median(setup_samples), "s"),
        "peak_rss_mb": (peak_rss_mb(pids), "MB"),
        "op_p50_ms": (statistics.median(lat) * 1e3 if lat else 0.0, "ms"),
        "items_per_s": (statistics.median(rates) if rates else 0.0, "1/s"),
    }


def _outer_ms(spans, by_id, prefix) -> float:
    """Total ms of the outermost spans named ``prefix`` or
    ``prefix.*`` (a nested match is already inside its ancestor)."""

    def match(name):
        return name == prefix or name.startswith(prefix + ".")

    total = 0.0
    for sp in spans:
        if not match(sp.name):
            continue
        p = sp.parent
        while p is not None and not match(by_id[p].name):
            p = by_id[p].parent
        if p is None:
            total += sp.end - sp.start
    return total * 1e3


def per_layer(workload, runner: Runner, setup: dict, all_queries: list[str]) -> dict:
    tracer = runner.tracer
    spans = [sp for sp in tracer.spans if sp.op is not None]
    by_id = {sp.sid: sp for sp in tracer.spans}
    selfs = tracer.self_times()
    n = max(runner.traced.attempted, 1)

    def per_op_ms(prefix):
        return (_outer_ms(spans, by_id, prefix) / n, "ms")

    def mean(values, unit):
        values = list(values)
        return (statistics.mean(values) if values else 0.0, unit)

    m = {
        "catalog.table.calls": (sum(sp.name == "catalog.table" for sp in spans) / n, "count"),
        "catalog.table.ms": per_op_ms("catalog.table"),
        "catalog.spread_small_scan.repartitions": (
            tracer.counts.get("catalog.spread_small_scan.repartitions", 0) / n, "count"),
        "queries.call_ms": per_op_ms("queries.call"),
        "queries.action_ms": per_op_ms("queries.action"),
        "spark.jobs": mean((r["jobs"] for r in runner.records), "count"),
        "spark.stages": mean((r["stages"] for r in runner.records), "count"),
        "spark.tasks": mean((r["tasks"] for r in runner.records), "count"),
        "sources.read.ms": per_op_ms("sources.read"),
        "operators.normalize.ms": per_op_ms("operators.normalize"),
        "sources.sinks.write_raw.ms": per_op_ms("sources.sinks.write_raw"),
        "sources.sinks.write_normalized.ms": per_op_ms("sources.sinks.write_normalized"),
        "sources.sync_log.append.ms": per_op_ms("sources.sync_log.append"),
        "operators.union_view.ms": per_op_ms("operators.union_view"),
        "pipeline.sync.self_ms": (
            sum(selfs[sp.sid] for sp in spans if sp.name == "pipeline.sync") * 1e3 / n, "ms"),
    }
    passes = getattr(workload, "passes", [])
    m["sources.sinks.bytes_written"] = mean((p.bytes_written for p in passes), "B")
    m["sources.sinks.files_written"] = mean((p.files_written for p in passes), "count")
    m["sources.sinks.write_amp"] = mean((p.bytes_written / p.snapshot.bytes for p in passes), "ratio")
    layer_self = tracer.layer_self_ms(spans)
    for layer in ("catalog", "sources", "operators", "queries", "pipeline"):
        m[f"layer.{layer}.self_ms"] = (layer_self.get(layer, 0.0) / n, "ms")
    per_query: dict[str, list[float]] = {}
    for name, s in zip(runner.plain.names, runner.plain.latencies_s):
        per_query.setdefault(name, []).append(s)
    for q in all_queries:
        m[f"queries.{q}.p50_ms"] = (statistics.median(per_query[q]) * 1e3 if q in per_query else 0.0, "ms")
    curation = [(workload.docs(q), s) for q, s in zip(runner.plain.names, runner.plain.latencies_s)]
    curation = [(d, s) for d, s in curation if d]
    m["curation.docs_per_s"] = (
        sum(d for d, _ in curation) / sum(s for _, s in curation) if curation else 0.0, "1/s")
    m["session.build_ms"] = (setup["build_ms"], "ms")
    m["setup.python_s"] = (setup["python_s"], "s")
    plain_s, traced_s = sum(runner.plain.latencies_s), sum(runner.traced.latencies_s)
    m["trace.overhead_pct"] = ((traced_s / plain_s - 1) * 100 if plain_s and traced_s else 0.0, "%")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, base, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, base: str, workloads) -> int:
    tmp = confine(work)
    tracer = Tracer() if args.trace else None
    wl = workloads.WORKLOADS[args.workload](work, args.seed)

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    # set-up: process start (minus input generation) to session built
    # and tables readable.  The Python side up to the JVM launch is
    # measured once; the JVM launch, session build and table reads
    # SETUPS times, each on a new JVM.  The engine's Python modules are
    # imported on the Python side, so every sample does the same work.
    import poet_cloud_cost_etl_spark.pipeline  # noqa: F401
    import poet_cloud_cost_etl_spark.queries  # noqa: F401
    import poet_cloud_cost_etl_spark.session  # noqa: F401
    import poet_cloud_cost_etl_spark.sources.parquet_source  # noqa: F401

    python_s = since_process_start() - gen_s
    setup_samples: list[float] = []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                shutdown(spark)
            t = time.perf_counter()
            spark = build(tmp, tracer)
            wl.open_tables(spark)
            setup_samples.append(python_s + time.perf_counter() - t)

        t = time.perf_counter()
        problems = wl.check(spark)
        check_s = time.perf_counter() - t
        runner = Runner(wl, spark, tracer)
        # a traced run executes each operation twice, so it runs half
        # the rounds to take about as long as a plain run
        seconds = args.seconds / 2 if tracer else args.seconds
        pids = [os.getpid(), jvm_process().pid]
        reset_peak_rss(pids)  # the peak covers the timed window only
        runner.window(random.Random(args.seed), max(1, round(seconds / wl.round_seconds)))
        problems += runner.problems + wl.final_check(spark)

        if tracer is not None:
            builds = [sp.end - sp.start for sp in tracer.spans if sp.name == "session.build_session"]
            setup = {"python_s": python_s, "build_ms": statistics.median(builds) * 1e3}
            metrics = per_layer(wl, runner, setup, workloads.QueryMix.queries)
        else:
            metrics = end_to_end(setup_samples, runner, pids)
    finally:
        if spark is not None:
            shutdown(spark)

    logs = (runner.plain, runner.traced)
    attempted = sum(log.attempted for log in logs)
    failed = sum(log.failed for log in logs)
    correct = not problems and failed == 0
    for p in problems + [e for log in logs for e in log.errors]:
        print(f"# FAIL {p}", file=sys.stderr)
    lat = runner.plain.latencies_s
    tail = stats.tail(lat)
    print(
        f"# {args.workload} seed={args.seed}: {len(lat)} timed ops in {len(runner.round_s)} rounds, "
        f"p50 {statistics.median(lat) * 1e3 if lat else float('nan'):.1f} ms, "
        f"tail {'p%g %.1f ms' % (tail[0], tail[1] * 1e3) if tail else 'not reported (fewer than 10 samples beyond p75)'}; "
        f"inputs {wl.input_bytes} B in {gen_s:.2f} s; set-ups {[round(s, 3) for s in setup_samples]} s; "
        f"check and warm-up {check_s:.1f} s; rounds {[round(s, 2) for s in runner.round_s]} s"
    )
    if tracer is not None:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed, "records": runner.records,
                           "metrics": {k: v for k, (v, _) in metrics.items()}})
        print(f"# spans written to {path}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
