#!/usr/bin/env python3
"""Stage isolation for dedup_prefix_filter_join (guide §1: measure
first). Times each pipeline segment of prefix_filter_jaccard_join
separately with the noop sink so the optimization targets the segment
that actually dominates.

Usage: python scripts/probe_prefix_join.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def timed(spark, label, make_df, n=3):
    runs = []
    make_df().write.format("noop").mode("overwrite").save()  # warm
    for _ in range(n):
        # NOTE: no unpersist here — staged probes reuse checkpointed
        # upstream frames across runs by design.
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        make_df().write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
    med = statistics.median(runs)
    print(f"{label}: median {med:.3f}s  runs={[round(r,3) for r in runs]}")
    return med


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from poet_cloud_cost_etl_spark.catalog import spread_small_scan, table
    from poet_cloud_cost_etl_spark.config import EngineConfig
    from poet_cloud_cost_etl_spark.operators.dedup import (
        _prefix_candidates,
        prefix_filter_jaccard_join,
        shingles,
        tokens,
    )
    from poet_cloud_cost_etl_spark.session import build_session
    from pyspark.sql.window import Window

    cfg = EngineConfig.from_env()
    spark = build_session(app_name="probe-prefix", **cfg.session_kwargs())
    spark.sparkContext.setLogLevel("ERROR")
    num, den = 1, 2

    def arrs_df():
        d = table(spark, args.sf_dir, "documents")
        return (
            spread_small_scan(d)
            .select(F.col("doc_id"), tokens("text").alias("__t"))
            .select(
                F.col("doc_id"),
                F.array_distinct(shingles("__t")).alias("__sh"),
            )
            .filter(F.size("__sh") > 0)
        )

    def arrs_ck():
        return arrs_df().localCheckpoint(eager=True)

    def prefix_df(arrs):
        ex = arrs.select(
            F.col("doc_id"),
            F.size("__sh").cast("long").alias("n"),
            F.explode("__sh").alias("shingle"),
        )
        dfreq = ex.groupBy("shingle").agg(
            F.count(F.lit(1)).cast("long").alias("__df")
        )
        pos_w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
        return (
            ex.join(dfreq, "shingle")
            .withColumn("__pos", F.row_number().over(pos_w))
            .filter(
                F.expr(
                    f"__pos <= n - (({num} * n + {den} - 1) div {den}) + 1"
                )
            )
            .select(F.col("doc_id"), "n", "shingle")
        )

    def verify_df(cand, arrs):
        a = arrs.select(
            F.col("doc_id").alias("doc_a"), F.col("__sh").alias("__sa")
        )
        b = arrs.select(
            F.col("doc_id").alias("doc_b"), F.col("__sh").alias("__sb")
        )
        scored = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.expr("size(array_intersect(__sa, __sb))").alias("__i"),
                F.expr("size(__sa)").alias("__na"),
                F.expr("size(__sb)").alias("__nb"),
            )
            .select(
                "doc_a",
                "doc_b",
                F.round(
                    F.expr("CAST(__i AS DOUBLE)")
                    / F.expr("CAST(__na + __nb - __i AS DOUBLE)"),
                    6,
                ).alias("jaccard"),
            )
        )
        return scored.filter(F.col("jaccard") >= num / den)

    # --- counts for context (once) ----------------------------------
    arrs = arrs_ck()
    prefix = prefix_df(arrs)
    cand = _prefix_candidates(prefix, "doc_id", num, den)
    n_docs = arrs.count()
    n_pref = prefix.count()
    n_cand = cand.count()
    print(f"docs={n_docs} prefix_rows={n_pref} candidates={n_cand}")

    # --- staged timings (each from cold lineage) ---------------------
    timed(spark, "s1 arrs checkpoint", lambda: arrs_df())
    t_arr0 = time.perf_counter()
    arrs2 = arrs_ck()
    t_arr = time.perf_counter() - t_arr0
    print(f"s1b arrs eager ckpt wall: {t_arr:.3f}s")
    timed(spark, "s2 prefix (dfreq join + window)", lambda: prefix_df(arrs2))
    prefix2 = prefix_df(arrs2).localCheckpoint(eager=True)
    timed(
        spark,
        "s3 cand (bucket ckpt+pairs+lenfilter+distinct)",
        lambda: _prefix_candidates(prefix2, "doc_id", num, den),
    )
    cand2 = _prefix_candidates(prefix2, "doc_id", num, den).localCheckpoint(
        eager=True
    )
    timed(spark, "s4 verify (2 joins + intersect)",
          lambda: verify_df(cand2, arrs2))
    timed(
        spark,
        "s5 full operator",
        lambda: prefix_filter_jaccard_join(
            table(spark, args.sf_dir, "documents"), "doc_id", "text", 1, 2
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
