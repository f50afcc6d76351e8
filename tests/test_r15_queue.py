"""r15-queue operators: implemented but not registered (the _r15q_*
wrappers in queries.py carry no @query).  Each operator gets (a)
hand-computed semantics and (b) a DuckDB parity check against its
oracle in ``R15_QUEUED_ORACLES``; the queue-wide gates below apply
the registered-query sweeps to the unregistered wrappers."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ts(s):
    return datetime.fromisoformat(s)


_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


# ----- X188 blocking pareto ---------------------------------------------------


def test_blocking_pareto_invariants(spark):
    """Three rows (one per scheme); hits never exceed candidates or
    truth; reduction ratio lives in [0, 1e6]."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        blocking_scheme_pareto,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = blocking_scheme_pareto(d, "doc_id", "text").collect()
    assert {r.scheme for r in rows} == {"lsh", "snm", "prefix"}
    for r in rows:
        assert r.n_hits <= r.n_truth
        assert r.n_hits <= r.n_candidates
        assert 0 <= r.reduction_ratio_ppm <= 1_000_000


# ----- X193 threshold sweep ---------------------------------------------------


def test_threshold_sweep_monotone(spark):
    """Raising the threshold can only shrink edges, clustered mass,
    and the largest cluster — the sweep must be monotone."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import (
        threshold_sweep_clusters,
    )

    d = table(spark, SF_SMALL, "documents")
    rows = sorted(
        threshold_sweep_clusters(d, "doc_id", "text").collect(),
        key=lambda r: r.threshold_ppm,
    )
    assert [r.threshold_ppm for r in rows] == [500000, 700000, 900000]
    for a, b in zip(rows, rows[1:]):
        assert b.n_edges <= a.n_edges
        assert b.n_docs_clustered <= a.n_docs_clustered
        assert b.largest_cluster <= a.largest_cluster
        assert b.dedup_excess <= a.dedup_excess


# ----- X190 attribution compare -----------------------------------------------


def test_attribution_models_hand_computed(spark):
    """view -> click -> purchase($9): last credits click, first
    credits view, linear splits 900 cents 450/450; a touchless
    purchase is (none) under every model; per-model totals equal the
    purchase total exactly."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        attribution_model_compare,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "click", 0.0, ""),
        (3, _ts("2024-01-01T00:02:00"), 1, "purchase", 9.0, ""),
        (4, _ts("2024-01-01T00:00:00"), 2, "purchase", 5.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        (r.model, r.attributed_type): r
        for r in attribution_model_compare(
            df, "user_id", "event_type", "ts", "event_id", "value"
        ).collect()
    }
    assert out[("last", "click")].revenue == 9.0
    assert out[("first", "view")].revenue == 9.0
    assert out[("linear", "view")].revenue == 4.5
    assert out[("linear", "click")].revenue == 4.5
    for m in ("last", "first", "linear"):
        assert out[(m, "(none)")].revenue == 5.0
        total = sum(v.revenue for k, v in out.items() if k[0] == m)
        assert total == 14.0


def test_attribution_linear_largest_remainder(spark):
    """A $0.05 purchase over 3 touches splits 2/2/1 cents with the
    extra cents to the EARLIEST touches — and sums exactly."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        attribution_model_compare,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "click", 0.0, ""),
        (3, _ts("2024-01-01T00:02:00"), 1, "error", 0.0, ""),
        (4, _ts("2024-01-01T00:03:00"), 1, "purchase", 0.05, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        r.attributed_type: r
        for r in attribution_model_compare(
            df, "user_id", "event_type", "ts", "event_id", "value"
        ).collect()
        if r.model == "linear"
    }
    assert out["view"].revenue == 0.02
    assert out["click"].revenue == 0.02
    assert out["error"].revenue == 0.01


def test_attribution_linear_exact_for_refunds(spark):
    """r11 ADVICE regression: a REFUND (-$0.05) over 3 touches must
    still sum exactly to the purchase total under the linear model —
    floor-div/pmod semantics distribute -2/-2/-1 cents; the old
    truncating div + signed % form credited -1/-1/-1 and lost 2
    cents."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        attribution_model_compare,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "click", 0.0, ""),
        (3, _ts("2024-01-01T00:02:00"), 1, "error", 0.0, ""),
        (4, _ts("2024-01-01T00:03:00"), 1, "purchase", -0.05, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        r.attributed_type: r
        for r in attribution_model_compare(
            df, "user_id", "event_type", "ts", "event_id", "value"
        ).collect()
        if r.model == "linear"
    }
    # floor(-5/3) = -2 everywhere; pmod(-5, 3) = 1 adds the +1 cent
    # back to the earliest touch: -1/-2/-2 summing to -5.
    assert out["view"].revenue == -0.01
    assert out["click"].revenue == -0.02
    assert out["error"].revenue == -0.02
    assert sum(r.revenue for r in out.values()) == -0.05


# ----- X191 OOD panel ---------------------------------------------------------


def test_ood_identical_vectors_score_zero(spark):
    """A corpus of identical vectors has zero variance everywhere;
    with the +1 scaled-eps denominator every score is exactly 0."""
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        ood_mahalanobis_panel,
    )

    v = [0.5, -0.5, 0.25, 1.0]
    df = spark.createDataFrame(
        [(i, v, 0) for i in range(6)], ["vec_id", "embedding", "label"]
    ).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    r = ood_mahalanobis_panel(df, "vec_id", "embedding", "label").collect()[0]
    assert r.mean_score_e6 == 0 and r.max_score_e6 == 0
    assert r.n_outliers == 0


def test_ood_planted_outlier_detected(spark):
    """One far-away vector among a tight cluster dominates the max
    score and trips the 2d outlier dial."""
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        ood_mahalanobis_panel,
    )

    base = [0.1, 0.1, 0.1, 0.1]
    rows = [(i, [x + 0.001 * i for x in base], 0) for i in range(9)]
    rows.append((99, [100.0, -100.0, 100.0, -100.0], 1))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"]).select(
        "vec_id",
        F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    out = {r.label: r for r in ood_mahalanobis_panel(df, "vec_id", "embedding", "label").collect()}
    assert out[1].n_outliers == 1
    assert out[1].mean_score_e6 > out[0].mean_score_e6


# ----- X192 stylometry --------------------------------------------------------


def test_stylometry_identical_sources_zero_delta(spark):
    """Two sources with identical text have identical function-word
    rates: every z-difference is 0, so Delta = 0; a third source
    with opposite stopword usage scores positive Delta against
    both."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        stylometry_delta_matrix,
    )

    a = "the cat and the dog of the town is a friend to all"
    c = "cats dogs walk towns friends play gardens sing dance code"
    docs = [
        (1, a, "en", "sA", 1),
        (2, a, "en", "sB", 1),
        (3, c, "en", "sC", 1),
    ]
    df = spark.createDataFrame(docs, _DOC_COLS)
    out = {
        (r.source_a, r.source_b): r
        for r in stylometry_delta_matrix(df, "source", "text").collect()
    }
    assert out[("sA", "sB")].delta_e6 == 0
    assert out[("sA", "sC")].delta_e6 > 0
    assert out[("sA", "sC")].delta_e6 == out[("sB", "sC")].delta_e6


# ----- X194 sentence split ----------------------------------------------------


def test_sentence_split_hand_computed(spark):
    """Positions address the ORIGINAL split (gaps where empties were
    dropped); token counts use the engine tokenizer."""
    from poet_cloud_cost_etl_spark.operators.packing import sentence_split

    df = spark.createDataFrame(
        [(1, "First sentence. Second one! And a third? ", "en", "s", 1)],
        _DOC_COLS,
    )
    rows = sentence_split(df, "doc_id", "text").collect()
    assert [(r.sent_pos, r.sentence) for r in rows] == [
        (1, "First sentence"),
        (2, "Second one"),
        (3, "And a third"),
    ]
    assert [r.n_tokens for r in rows] == [2, 2, 3]


# ----- X189 bloom semi-join ---------------------------------------------------


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true match passes the Bloom gate (a Bloom 'no' is
    exact), and the pass set is a superset of the match set."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.joins import (
        bloom_semijoin_prefilter,
    )

    orders = table(spark, SF_SMALL, "orders")
    li = table(spark, SF_SMALL, "lineitem")
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    rows = bloom_semijoin_prefilter(
        li, dim, "l_orderkey", "l_returnflag"
    ).collect()
    assert rows
    # exact match totals equal a plain semi-join
    expected = (
        li.join(dim, "l_orderkey", "left_semi")
        .groupBy("l_returnflag")
        .count()
        .collect()
    )
    exp = {r.l_returnflag: r["count"] for r in expected}
    for r in rows:
        assert r.n_match <= r.n_pass <= r.n_fact
        assert r.n_false_pass == r.n_pass - r.n_match
        assert r.n_match == exp.get(r.l_returnflag, 0)


# ----- X195 salted join -------------------------------------------------------


def test_salted_join_equals_plain(spark):
    """The salted (key, salt) join restores the plain-join aggregate
    exactly, for any deterministic salt."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.joins import salted_skew_join

    e = table(spark, SF_SMALL, "events")
    salted = {
        r.key: r
        for r in salted_skew_join(
            e,
            (F.col("user_id") % 3),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
            weight_sql="__k + 1",
            salt=(F.col("event_id") % 8),
        ).collect()
    }
    plain = (
        e.select(
            (F.col("user_id") % 3).alias("key"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
        .collect()
    )
    for r in plain:
        s = salted[r.key]
        assert s.n_rows == r.n
        assert s.weighted_revenue == r.s * (r.key + 1) / 100.0


def test_salted_join_wraps_out_of_range_and_null_salt(spark):
    """r11 ADVICE regression: the operator pmod-wraps the caller's
    salt into [0, n_salts) and coalesces NULL salts to bucket 0 —
    a negative % result (Spark % keeps the dividend's sign) or a
    NULL would otherwise match no replicated dim row and silently
    drop fact rows, breaking the equals-the-plain-join contract."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.joins import salted_skew_join

    e = table(spark, SF_SMALL, "events")
    plain = {
        r.key: r
        for r in e.select(
            (F.col("user_id") % 3).alias("key"),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("s"))
        .collect()
    }
    for bad_salt in (
        -(F.col("event_id") % 8),  # in [-7, 0]: out of range
        F.when(F.col("event_id") % 2 == 0, F.col("event_id") % 8),  # NULLs
    ):
        salted = {
            r.key: r
            for r in salted_skew_join(
                e,
                (F.col("user_id") % 3),
                F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
                weight_sql="__k + 1",
                salt=bad_salt,
            ).collect()
        }
        assert set(salted) == set(plain)
        for k, r in plain.items():
            assert salted[k].n_rows == r.n
            assert salted[k].weighted_revenue == r.s * (k + 1) / 100.0


def test_salted_join_plan_shuffles_on_salt(spark):
    """The join keys include the salt column — the skew defense IS
    the (key, salt) partitioning."""
    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.joins import salted_skew_join

    e = table(spark, SF_SMALL, "events")
    plan = (
        salted_skew_join(
            e,
            (F.col("user_id") % 3),
            F.expr("CAST(ROUND(value * 100) AS BIGINT)"),
            salt=(F.col("event_id") % 8),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan and "__salt" in plan


# ----- staging gates ----------------------------------------------------------

_R15_WRAPPERS = (
    "_r15q_blocking_scheme_pareto",
    "_r15q_dedup_threshold_sweep",
    "_r15q_attribution_model_compare",
    "_r15q_embedding_ood_mahalanobis",
    "_r15q_source_stylometry_delta",
    "_r15q_doc_sentence_split",
    "_r15q_bloom_semijoin_lineitem",
    "_r15q_join_salted_skew",
)


def test_r15q_wrappers_survive_empty_input(spark, tmp_path):
    """P9 discipline applied at staging time: every r15-queue wrapper
    must run against schema-only empty tables."""
    from poet_cloud_cost_etl_spark import queries as Q

    out = str(tmp_path / "empty_sf")
    for t in ("documents", "embeddings", "events", "orders", "lineitem"):
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    failures = {}
    for name in _R15_WRAPPERS:
        try:
            getattr(Q, name)(spark, out).count()
        except Exception as exc:
            failures[name] = str(exc).splitlines()[0][:120]
    assert not failures, failures


def test_r15q_plan_guards(spark):
    """Staging-time plan hygiene: no row-at-a-time Python UDF, no
    cartesian product over corpus-sized inputs, in any staged
    wrapper's plan."""
    from poet_cloud_cost_etl_spark import queries as Q

    for name in _R15_WRAPPERS:
        plan = (
            getattr(Q, name)(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r15q_two_leg_parity_sweep(spark):
    """Driver-fidelity sweep over the WHOLE r15 queue: exact
    fetchall() AND the pandas-materialization leg — the same two-leg
    gate every registered query passes, applied at staging time."""
    from poet_cloud_cost_etl_spark import queries as Q
    from poet_cloud_cost_etl_spark.oracles import R15_QUEUED_ORACLES
    from tests.oracle_harness import compare, duckdb_conn

    con = duckdb_conn(SF_SMALL)
    names = {
        "blocking_scheme_pareto": Q._r15q_blocking_scheme_pareto,
        "dedup_threshold_sweep": Q._r15q_dedup_threshold_sweep,
        "attribution_model_compare": Q._r15q_attribution_model_compare,
        "embedding_ood_mahalanobis": Q._r15q_embedding_ood_mahalanobis,
        "source_stylometry_delta": Q._r15q_source_stylometry_delta,
        "doc_sentence_split": Q._r15q_doc_sentence_split,
        "bloom_semijoin_lineitem": Q._r15q_bloom_semijoin_lineitem,
        "join_salted_skew": Q._r15q_join_salted_skew,
    }
    failures = {}
    for name, fn in names.items():
        c = compare(name, fn(spark, SF_SMALL), con, R15_QUEUED_ORACLES[name])
        if not c.match:
            failures[name] = c.mismatches
    assert not failures, failures
