"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), makes
its tables readable in a fresh session (``open_tables``, part of the
measured set-up), checks the engine's outputs and warms the session up
outside the timed window (``check``), and hands the runner one round
of timed operations at a time (``round``).  An operation has an
untimed ``prepare``, the timed ``run`` and an untimed ``verify``.
After the window, ``final_check`` checks what the window left behind.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Untimed work (checks, warm-up) runs on this many client threads; the
# timed window always runs one operation at a time on the main thread,
# so the last warm-up round runs there too: a round on pool threads
# alone leaves the first timed round measurably slower.
UNTIMED_THREADS = 4


@dataclass
class Op:
    name: str
    run: Callable[[], None]
    items: int
    prepare: Callable[[], None] | None = None
    verify: Callable[[], list[str]] | None = None


def _oracle_harness():
    """The repository's DuckDB comparison harness, loaded read-only
    from ``tests/oracle_harness.py``."""
    name = "_perfbench_oracle_harness"
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(ROOT, "tests", "oracle_harness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    return sys.modules[name]


# Analyst queries over the unified costs view.
COSTS_QUERIES = ["costs_by_service_30d", "costs_union_view", "anomaly_zscore"]
# Joins and windows over the TPC-H-like tables and events.
JOIN_WINDOW_QUERIES = ["q3_shipping_priority", "join_asof"]
# Corpus curation: near-duplicate detection, similarity, text quality;
# the value is the table whose rows the query processes.
CURATION_QUERIES = {
    "dedup_minhash_lsh": "documents",
    "semantic_dedup": "embeddings",
    "text_quality_score": "documents",
}


class QueryMix:
    """Analyst and curation queries from the registry over generated
    fixture tables, in a seeded order each round; each query is timed
    as its call plus a ``noop`` write."""

    name = "query_mix"
    queries = COSTS_QUERIES + JOIN_WINDOW_QUERIES + list(CURATION_QUERIES)
    scale = 1.0
    round_seconds = 5.0  # one round on a 4-core host; sets the window's round count

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        self.seed = seed
        self.tracer = None  # set by the runner for traced operations only
        self.input_rows: dict[str, int] = {}
        self.input_bytes = 0

    def generate(self) -> None:
        stats = gen.write_fixture_tables(self.data, self.seed, self.scale)
        self.input_rows = {t: s["rows"] for t, s in stats.items()}
        self.input_bytes = sum(s["bytes"] for s in stats.values())

    def open_tables(self, spark) -> None:
        from poet_cloud_cost_etl_spark import catalog

        for t in self.input_rows:
            catalog.table(spark, self.data, t).schema  # noqa: B018 - resolves the footer

    def check(self, spark) -> list[str]:
        """Compare every query with its DuckDB twin on client threads,
        then run one more round untimed on this thread so the window
        starts warm."""
        from poet_cloud_cost_etl_spark.oracles import ORACLES
        from poet_cloud_cost_etl_spark.queries import QUERIES

        oh = _oracle_harness()
        con = oh.duckdb_conn(self.data)

        def compare(q):
            cur = con.cursor()
            try:
                return oh.compare(q, QUERIES[q](spark, self.data), cur, ORACLES[q])
            finally:
                cur.close()

        def warm(q):
            QUERIES[q](spark, self.data).write.format("noop").mode("overwrite").save()

        try:
            with ThreadPoolExecutor(UNTIMED_THREADS) as ex:
                results = list(ex.map(compare, self.queries))
        finally:
            con.close()
        for q in self.queries:
            warm(q)
        return [f"{r.name}: " + "; ".join(r.mismatches)[:400] for r in results if not r.match]

    def final_check(self, spark) -> list[str]:
        return []

    def docs(self, query: str) -> int:
        """Documents or vectors a curation query processes (0 for the rest)."""
        table = CURATION_QUERIES.get(query)
        return self.input_rows[table] if table else 0

    def round(self, spark, rng) -> list[Op]:
        from poet_cloud_cost_etl_spark.queries import QUERIES

        def make(q):
            fn = QUERIES[q]

            def run():
                tracer = self.tracer
                if tracer is None:
                    fn(spark, self.data).write.format("noop").mode("overwrite").save()
                    return
                with tracer.span("queries.call"):
                    df = fn(spark, self.data)
                with tracer.span("queries.action"):
                    df.write.format("noop").mode("overwrite").save()

            return Op(q, run, 1)

        order = list(self.queries)
        rng.shuffle(order)
        return [make(q) for q in order]


@dataclass
class PassResult:
    snapshot: gen.Snapshot
    sync_ts: datetime
    report: object = None
    bytes_written: int = 0
    files_written: int = 0


class CurSync:
    """``pipeline.sync`` over seeded CUR snapshots: every pass reads a
    fresh snapshot and overwrites the same output root, as the daily
    job does."""

    name = "cur_sync"
    rows_per_path = 10_000
    warm_passes = 2  # untimed, on client threads, each into its own output root
    round_seconds = 2.5  # one pass on a 4-core host; sets the window's pass count
    first_ts = datetime(2026, 2, 1, 3, 0, 0)

    def __init__(self, work: str, seed: int):
        self.gen = gen.CurGenerator(os.path.join(work, "cur"), seed, self.rows_per_path)
        self.out = os.path.join(work, "out")
        self.tracer = None  # set by the runner for traced operations only
        self.passes: list[PassResult] = []
        self.next_snapshot = 0
        self.first: gen.Snapshot | None = None
        self.input_rows: dict[str, int] = {}
        self.input_bytes = 0

    def generate(self) -> None:
        self.first = self._snapshot()
        self.input_rows = dict(self.first.rows)
        self.input_bytes = self.first.bytes

    def _snapshot(self) -> gen.Snapshot:
        snap = self.gen.snapshot(self.next_snapshot)
        self.next_snapshot += 1
        return snap

    def sources(self, snap: gen.Snapshot):
        """The two report paths as engine sources: a month-partition
        scan, canonical column names, and a cost mapping resolved from
        the path's own column names (current or legacy)."""
        from pyspark.sql import functions as F

        from poet_cloud_cost_etl_spark.operators import normalize as N
        from poet_cloud_cost_etl_spark.sources import base, parquet_source

        out = []
        for source, legacy in gen.CUR_SOURCES.items():
            cols = [N.canonical_name(c) for c in gen.cur_columns(bool(legacy))]
            resolved = {
                t: N.resolve_column(cols, t, N.AWS_CUR_PRIMARY, N.AWS_CUR_ALTERNATIVES)
                for t in gen.CUR_KEY_COLUMNS
            }

            def read(spark, path=snap.paths[source]):
                def scan():
                    raw = parquet_source.read_month_partitions(spark, path, gen.CUR_MONTHS)
                    return N.canonicalize_columns(raw)

                if self.tracer is None:
                    return scan()
                with self.tracer.span("sources.read"):
                    return scan()

            def mapping(r=resolved):
                return {
                    "date": F.col(r["date"]).cast("date"),
                    "account_id": F.col(r["account_id"]),
                    "service": F.col(r["service"]),
                    "region": F.col(r["region"]),
                    "cost": F.col(r["cost"]),
                    "currency": F.col(r["currency"]),
                }

            out.append(base.make_source(source, read, mapping, "aws", date_col=resolved["date"]))
        return out

    def open_tables(self, spark) -> None:
        for src in self.sources(self.first):
            src.read(spark).schema  # noqa: B018 - resolves the footers

    def _sync_pass(self, spark, snap: gen.Snapshot) -> PassResult:
        from poet_cloud_cost_etl_spark import pipeline

        res = PassResult(snap, self.first_ts + timedelta(minutes=len(self.passes)))
        res.report = pipeline.sync(spark, self.sources(snap), output_root=self.out, sync_timestamp=res.sync_ts)
        self.passes.append(res)
        return res

    def _verify_pass(self, res: PassResult) -> list[str]:
        problems = []
        if not res.report.ok:
            problems.append(f"pass {len(self.passes)}: sync failures {res.report.failures}")
        if res.report.tables != res.snapshot.rows:
            problems.append(f"pass {len(self.passes)}: landed {res.report.tables} != generated {res.snapshot.rows}")
        landed = [gen.dir_bytes(os.path.join(self.out, d)) for d in os.listdir(self.out) if d != "sync_log"]
        res.bytes_written = sum(b for b, _ in landed)
        res.files_written = sum(f for _, f in landed)
        return problems

    def _check_outputs(self, spark) -> list[str]:
        """Cost totals of the last pass through the ``costs`` view, to
        the cent, and one ``sync_log`` success row per table per pass."""
        from pyspark.sql import functions as F

        from poet_cloud_cost_etl_spark.sources.sync_log import read_sync_log

        last = self.passes[-1]
        rows = (
            spark.table("costs")
            .groupBy("source_table", "account_id", F.year("date").alias("y"), F.month("date").alias("m"))
            .agg(F.sum(F.round(F.col("cost") * 100).cast("long")).alias("cents"))
            .collect()
        )
        got = {(r.source_table, r.account_id, r.y, r.m): r.cents for r in rows}
        problems = []
        if got != last.snapshot.totals_cents:
            diff = sorted(set(got.items()) ^ set(last.snapshot.totals_cents.items()))[:4]
            problems.append(f"costs view totals differ from generated totals: {diff}")
        log = (
            read_sync_log(spark, f"{self.out}/sync_log")
            .filter(F.col("status") == "success")
            .groupBy("sync_timestamp", "table_name")
            .count()
            .collect()
        )
        got_log = {(r.sync_timestamp, r.table_name): r["count"] for r in log}
        want_log = {(p.sync_ts, t): 1 for p in self.passes for t in gen.CUR_SOURCES}
        if got_log != want_log:
            problems.append(f"sync_log rows {len(got_log)} != expected {len(want_log)} (one per table per pass)")
        return problems

    def check(self, spark) -> list[str]:
        """``warm_passes`` passes into scratch output roots on client
        threads, then a full pass with every check on this thread."""
        from poet_cloud_cost_etl_spark import pipeline

        snaps = [self._snapshot() for _ in range(self.warm_passes)]

        def warm(k):
            root = f"{self.out}-warm{k}"
            report = pipeline.sync(spark, self.sources(snaps[k]), output_root=root, sync_timestamp=self.first_ts)
            shutil.rmtree(root, ignore_errors=True)
            shutil.rmtree(snaps[k].root, ignore_errors=True)
            return [] if report.ok else [f"warm-up pass {k}: {report.failures}"]

        with ThreadPoolExecutor(UNTIMED_THREADS) as ex:
            problems = [p for bad in ex.map(warm, range(self.warm_passes)) for p in bad]
        res = self._sync_pass(spark, self.first)
        return problems + self._verify_pass(res) + self._check_outputs(spark)

    def final_check(self, spark) -> list[str]:
        return self._check_outputs(spark)

    def docs(self, name: str) -> int:
        return 0

    def round(self, spark, rng) -> list[Op]:
        box: dict[str, object] = {}

        def prepare():
            box["snap"] = self._snapshot()

        def run():
            box["res"] = self._sync_pass(spark, box["snap"])

        def verify():
            shutil.rmtree(box["snap"].root, ignore_errors=True)
            return self._verify_pass(box["res"])

        return [Op("sync_pass", run, 2 * self.rows_per_path, prepare, verify)]


WORKLOADS = {w.name: w for w in (CurSync, QueryMix)}
