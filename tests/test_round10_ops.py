"""Round-10 consolidation tests: the HALF_UP rounding twin that makes
the BLAS pair kernels decimal-identical to Spark's ``F.round`` (r9
ADVICE item 1), and the ``_pair_scores`` per-bucket engine split
that makes the scale-proven gemm path the default (VERDICT r9 task 2).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_round6_half_up_matches_spark_round(spark):
    """``_round6_half_up`` must agree with Spark's ``F.round(x, 6)``
    (BigDecimal HALF_UP on the shortest-repr decimal expansion) on an
    adversarial value set that INCLUDES the decimal-tie class where
    ``np.round`` (binary half-to-even) diverges — e.g. the double
    nearest 2.5e-6 rounds up under Spark but wherever its binary
    error points under numpy. Ground truth is Spark itself."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _round6_half_up,
    )

    rng = random.Random(7)
    vals = [
        2.5e-6, -2.5e-6, 1.5e-6, -1.5e-6, 5e-7, -5e-7, 3.5e-7,
        0.0078125, -0.0078125,  # 1/128: a dyadic 7-decimal tie
        0.9999995, -0.9999995, 0.1234565, 0.1234575, 0.12345649999,
        1.0, -1.0, 0.0, -0.0, 0.5, -0.5,
    ]
    # sweep constructed 7-decimal ties (x.xxxxxx5 shapes) plus a
    # dense uniform cloud over the cosine range
    vals += [float(f"0.{i:06d}5") for i in range(0, 999_999, 7919)]
    vals += [-float(f"0.{i:06d}5") for i in range(0, 999_999, 104_729)]
    vals += [rng.uniform(-1, 1) for _ in range(5000)]
    vals += [rng.uniform(-1, 1) * 1e-5 for _ in range(2000)]

    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        "x", F.round("x", 6).alias("r")
    )
    rows = df.collect()
    got = _round6_half_up(np.array([r.x for r in rows], dtype=np.float64))
    for i, r in enumerate(rows):
        assert got[i] == r.r, (r.x, r.r, got[i])
    # NaN (the SQL NULL-cosine carrier) passes through
    out = _round6_half_up(np.array([float("nan"), 0.25]))
    assert math.isnan(out[0]) and out[1] == 0.25
    # the divergence class is real: numpy's rounding must disagree
    # with Spark somewhere in this set, else the helper is pointless
    sparkr = np.array([r.r for r in rows])
    xs = np.array([r.x for r in rows])
    assert (np.round(xs, 6) != sparkr).any()


def test_round6_half_up_domain_guard():
    """r10 ADVICE item 3: the 1e-8 near-tie margin is only validated
    for |x| < 64 (past ~|x|=90 the repr error of x*1e6 exceeds the
    margin and a true tie can silently round off-parity).  The kernel
    must fail loud outside that domain, and keep working inside it —
    including with non-finite carriers present."""
    import numpy as np
    import pytest

    from poet_cloud_cost_etl_spark.operators.similarity import (
        _round6_half_up,
    )

    # inside the domain: fine, and inf/NaN pass through
    out = _round6_half_up(
        np.array([63.9999995, -63.9999995, float("inf"), float("nan")])
    )
    assert out[0] == 64.0 and out[1] == -64.0
    assert np.isinf(out[2]) and np.isnan(out[3])
    # outside: loud failure, not silent drift
    with pytest.raises(ValueError, match="tie-guard domain"):
        _round6_half_up(np.array([64.0]))
    with pytest.raises(ValueError, match="tie-guard domain"):
        _round6_half_up(np.array([0.25, -128.5]))


def test_pair_impl_auto_splits_and_matches(spark, monkeypatch):
    """The ``_pair_scores`` size split must (a) route small buckets to
    the expr engine and large ones to the BLAS kernel — both branches
    visible in the plan when the fixture straddles the threshold —
    and (b) return exactly the all-expr rows (GEMM_MIN_BUCKET patched
    past every bucket) for every operator in the family.
    GEMM_MIN_BUCKET is pinned mid-fixture (~500 rows over 8 centroids
    ≈ 60/bucket) so BOTH arms do real work."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators import similarity as S

    emb = _t(spark, SF_SMALL, "embeddings")

    def run():
        return (
            {
                (r.vec_id, r.centroid_id, r.is_dup)
                for r in S.semantic_dedup(
                    emb, "vec_id", "embedding", threshold=0.35
                ).collect()
            },
            [
                tuple(r)
                for r in S.cosine_threshold_calibration(
                    emb, "vec_id", "embedding", "label"
                ).collect()
            ],
            [
                tuple(r)
                for r in S.margin_knn_pairs(
                    emb, "vec_id", "embedding", "label"
                ).collect()
            ],
        )

    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 60)
    split_df = S.semantic_dedup(emb, "vec_id", "embedding", threshold=0.35)
    plan = split_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan  # gemm arm present
    assert "Union" in plan, plan  # expr arm unioned in
    split = run()
    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 10**9)
    expr = run()
    assert split == expr


def test_freshness_decay_sign_symmetric_division(spark):
    """Negative money values (credits/refunds) must weight with the
    abs-then-resign convention so Spark (truncating div) and DuckDB
    (flooring //) agree: c=-151 at w=500000 ppm -> -75, where a
    flooring engine on the raw product would say -76 (r9 ADVICE
    item 2)."""
    from datetime import datetime

    import duckdb

    from poet_cloud_cost_etl_spark.operators.aggregates import (
        freshness_decay_weights,
    )

    rows = [
        ("g", datetime(2026, 1, 31), -151),  # age 30d -> w=500000
        ("g", datetime(2026, 2, 28), 200),  # age 2d -> w=1000000
    ]
    df = spark.createDataFrame(rows, ["grp", "ts", "cents"])
    out = freshness_decay_weights(
        df, "grp", "ts", F.col("cents").cast("long"), half_life_days=28
    ).collect()[0]
    # -151*500000 = -75500000; abs-resign: -(75500000 div 1e6) = -75
    assert out.weighted_cents == -75 + 200
    # the flooring engine agrees under the same CASE convention
    duck = duckdb.connect().execute(
        "SELECT CASE WHEN -151 < 0 THEN -(((151) * 500000) // 1000000) "
        "ELSE 0 END + (200 * 1000000) // 1000000"
    ).fetchone()[0]
    assert duck == out.weighted_cents


def test_quantile_sample_error_empty_sample_emits_rows(spark):
    """When no key hashes to 0 mod sample_mod, the exact-side rows
    must still emit with NULL est_value/achieved_rank/rank_err_ppm —
    an empty sample is a loud eval result, not an empty table (r9
    ADVICE item 4)."""
    from poet_cloud_cost_etl_spark.operators.aggregates import (
        quantile_sample_error,
    )
    from poet_cloud_cost_etl_spark.operators.sampling import unit_hash

    df = spark.createDataFrame(
        [(f"k{i}", i) for i in range(1, 21)], ["k", "v"]
    )
    hashes = [
        r.h for r in df.select(unit_hash("k").alias("h")).collect()
    ]
    mod = next(
        m for m in range(3, 10_000) if all(h % m != 0 for h in hashes)
    )
    rows = quantile_sample_error(df, "k", "v", sample_mod=mod).collect()
    assert len(rows) == 5  # one per default percentile
    for r in rows:
        assert r.exact_value is not None and r.n_rows == 20
        assert r.est_value is None
        assert r.achieved_rank is None
        assert r.rank_err_ppm is None
    # and with a sample present nothing changed: mod=1 samples all
    full = quantile_sample_error(df, "k", "v", sample_mod=1).collect()
    assert all(r.est_value == r.exact_value for r in full)
    assert all(r.rank_err_ppm == 0 for r in full)


def test_langid_agreement_decimal_route_types(spark):
    """The DECIMAL(38,0) overflow guard on pe_num (r9 ADVICE item 5)
    must not change the output contract: chance_ppm stays BIGINT,
    kappa stays DOUBLE, and the small-fixture values match the
    direct integer formula."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        langid_agreement_by_source,
    )

    docs = [
        (1, "the cat and the dog is a", "en", "s1"),
        (2, "el la de los y que", "es", "s1"),
        (3, "the of to is a and", "es", "s1"),  # mislabeled
        (4, "le les et des une", "fr", "s2"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])
    out = langid_agreement_by_source(df, "doc_id", "text", "lang", "source")
    types = dict(out.dtypes)
    assert types["chance_ppm"] == "bigint" and types["kappa"] == "double"
    r = {row.source: row for row in out.collect()}
    s1 = r["s1"]
    # s1: preds en,es,en vs labels en,es,es -> trace 2, n 3,
    # pe_num = sum over classes of row*col marginals:
    # en: pred 2 * label 1 = 2; es: pred 1 * label 2 = 2 -> 4
    assert s1.n_docs == 3 and s1.accuracy_ppm == (1_000_000 * 2) // 3
    assert s1.chance_ppm == (1_000_000 * 4) // 9
    assert s1.kappa == round((3 * 2 - 4) / (9 - 4), 6)
    s2 = r["s2"]
    assert s2.accuracy_ppm == 1_000_000 and s2.chance_ppm == 1_000_000
    assert s2.kappa is None  # degenerate denominator


def test_pair_impl_auto_extreme_split_points(spark, monkeypatch):
    """The split constant is a pure engine dial: forcing ALL buckets
    to one arm (threshold 1 -> all gemm; threshold 10^9 -> all expr)
    must reproduce the default result exactly, zero vectors and NaN
    cosines included."""
    from poet_cloud_cost_etl_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 0.0]),  # zero vector: NULL cosine, never a dup
        (4, [0.0, 1.0]),
        (5, [0.1, 0.9]),
        (6, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def run():
        return {
            (r.vec_id, r.centroid_id, r.is_dup)
            for r in S.semantic_dedup(
                emb, "vec_id", "embedding", n_centroids=2, threshold=0.9
            ).collect()
        }

    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 1)
    all_gemm = run()
    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 10**9)
    all_expr = run()
    assert all_gemm == all_expr
    # the zero vector must never be a duplicate under either engine
    dup_of_3 = {t for t in all_gemm if t[0] == 3}
    assert all(not t[2] for t in dup_of_3)
