"""r16-queue operators (X196-X203): implemented but not registered
(the _r16q_* wrappers in queries.py carry no @query).  Each operator
gets (a) hand-computed semantics and (b) a DuckDB parity check
against its oracle in ``R16_QUEUED_ORACLES``; the queue-wide gates
below apply the registered-query sweeps to the unregistered
wrappers."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _ts(s):
    return datetime.fromisoformat(s)


_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_LI_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_extendedprice",
    "l_discount",
    "l_quantity",
]


# ----- X196 ordered k-step funnel --------------------------------------------


def test_funnel_order_and_horizon(spark):
    """user1 completes in order; user2's purchase PRECEDES the click
    (must not convert); user3's click falls outside the 30-day
    horizon.  Exact ppm conversions, NULL conv_from_prev on step 0."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        funnel_steps_conversion,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "view", 0.0, ""),
        (2, _ts("2024-01-01T01:00:00"), 1, "click", 0.0, ""),
        (3, _ts("2024-01-01T02:00:00"), 1, "purchase", 0.0, ""),
        (4, _ts("2024-01-01T00:00:00"), 2, "purchase", 0.0, ""),
        (5, _ts("2024-01-01T01:00:00"), 2, "view", 0.0, ""),
        (6, _ts("2024-01-01T02:00:00"), 2, "click", 0.0, ""),
        (7, _ts("2024-01-01T00:00:00"), 3, "view", 0.0, ""),
        (8, _ts("2024-02-15T00:00:00"), 3, "click", 0.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        r.step_idx: r
        for r in funnel_steps_conversion(
            df, "user_id", "event_type", "ts"
        ).collect()
    }
    assert out[0].users_reached == 3 and out[0].conv_from_prev_ppm is None
    assert out[1].users_reached == 2
    assert out[1].conv_from_first_ppm == 666_666
    assert out[1].conv_from_prev_ppm == 666_666
    assert out[2].users_reached == 1
    assert out[2].conv_from_first_ppm == 333_333
    assert out[2].conv_from_prev_ppm == 500_000


# ----- X197 inter-event gap quantiles ----------------------------------------


def test_gap_quantiles_exact_lattice(spark):
    """Gaps 10s/20s/40s for one (user, type) stream: q50 -> 20s (cum
    2 of 3), q90/q99 -> 40s — the min-gap-with-cum>=ceil definition,
    exactly."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        inter_event_gap_quantiles,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 0.0, ""),
        (2, _ts("2024-01-01T00:00:10"), 1, "a", 0.0, ""),
        (3, _ts("2024-01-01T00:00:30"), 1, "a", 0.0, ""),
        (4, _ts("2024-01-01T00:01:10"), 1, "a", 0.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        (r.event_type, r.q_ppm): r
        for r in inter_event_gap_quantiles(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert out[("a", 500_000)].gap_us_quantile == 20_000_000
    assert out[("a", 900_000)].gap_us_quantile == 40_000_000
    assert out[("a", 990_000)].gap_us_quantile == 40_000_000
    assert out[("a", 500_000)].n_gaps == 3


def test_gap_quantiles_per_type_streams_are_separate(spark):
    """Type b events interleaved with type a must not shrink a's
    gaps: the stream is per (user, type)."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        inter_event_gap_quantiles,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 0.0, ""),
        (2, _ts("2024-01-01T00:00:05"), 1, "b", 0.0, ""),
        (3, _ts("2024-01-01T00:00:10"), 1, "a", 0.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = {
        (r.event_type, r.q_ppm): r.gap_us_quantile
        for r in inter_event_gap_quantiles(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert out[("a", 500_000)] == 10_000_000
    assert ("b", 500_000) not in out  # single b event: no gap row


# ----- X198 session type co-occurrence ---------------------------------------


def test_session_cooccurrence_hand_computed(spark):
    """u1 session1 {a,b}, u1 session2 {a} (40-min gap), u2 session
    {b}: N=3, n_a=2, n_b=2, n_both=1 -> support 333333, lift
    1e6*3*1//(2*2) = 750000."""
    from poet_cloud_cost_etl_spark.operators.behavior import (
        session_type_cooccurrence,
    )

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 1, "a", 0.0, ""),
        (2, _ts("2024-01-01T00:01:00"), 1, "b", 0.0, ""),
        (3, _ts("2024-01-01T00:45:00"), 1, "a", 0.0, ""),
        (4, _ts("2024-01-01T00:00:00"), 2, "b", 0.0, ""),
    ]
    df = spark.createDataFrame(rows, _EV_COLS)
    out = session_type_cooccurrence(
        df, "user_id", "event_type", "ts", "event_id"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.n_both) == ("a", "b", 1)
    assert r.support_ppm == 333_333
    assert r.lift_ppm == 750_000


# ----- X199 market-basket pairs ----------------------------------------------


def test_basket_pairs_hand_computed(spark):
    """o1{p1,p2} o2{p1,p2} o3{p1,p3}: (p1,p2) n_both=2 conf 666666 /
    1e6, lift 1e6; duplicate lines of the same part collapse
    (distinct basket semantics)."""
    from poet_cloud_cost_etl_spark.operators.market import (
        market_basket_pairs,
    )

    rows = [
        (1, 1, 10.0, 0.0, 1.0),
        (1, 1, 10.0, 0.0, 1.0),
        (1, 2, 10.0, 0.0, 1.0),
        (2, 1, 10.0, 0.0, 1.0),
        (2, 2, 10.0, 0.0, 1.0),
        (3, 1, 10.0, 0.0, 1.0),
        (3, 3, 10.0, 0.0, 1.0),
    ]
    df = spark.createDataFrame(rows, _LI_COLS)
    out = {
        (r.item_a, r.item_b): r for r in market_basket_pairs(df).collect()
    }
    assert set(out) == {(1, 2), (1, 3)}
    r = out[(1, 2)]
    assert r.n_both == 2
    assert r.support_ppm == 666_666
    assert r.conf_a_to_b_ppm == 666_666
    assert r.conf_b_to_a_ppm == 1_000_000
    assert r.lift_ppm == 1_000_000


# ----- X200 discount-quantity elasticity -------------------------------------


def test_elasticity_exact_slope_and_degenerate_group(spark):
    """Brand A: qty = 1 + 2*ticks exactly -> slope_e6 = 2_000_000;
    brand B: constant discount -> NULL slope, n intact."""
    from poet_cloud_cost_etl_spark.operators.market import (
        discount_qty_elasticity,
    )

    li = spark.createDataFrame(
        [
            (1, 1, 10.0, 0.00, 1.0),
            (2, 1, 10.0, 0.01, 3.0),
            (3, 1, 10.0, 0.02, 5.0),
            (4, 2, 10.0, 0.05, 7.0),
            (5, 2, 10.0, 0.05, 9.0),
        ],
        _LI_COLS,
    )
    part = spark.createDataFrame(
        [(1, "BrandA"), (2, "BrandB")], ["p_partkey", "p_brand"]
    )
    out = {r.grp: r for r in discount_qty_elasticity(li, part).collect()}
    assert out["BrandA"].slope_e6 == 2_000_000
    assert out["BrandA"].n_lines == 3
    assert out["BrandB"].slope_e6 is None
    assert out["BrandB"].n_lines == 2


# ----- X201 1-NN label error -------------------------------------------------


def test_1nn_label_error_hand_computed(spark):
    """v0,v1 (label 0) are mutual NNs; v2 (label 1) and v3 (label 0)
    are mutual NNs — so v2 errs (confused with 0) and v3 errs
    (confused with 1): L0 error 1/3, L1 error 1/1."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        knn_1nn_label_error,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.01], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.01, 1.0], 0),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        r.label: r
        for r in knn_1nn_label_error(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    assert out[0].n_vectors == 3 and out[0].n_errors == 1
    assert out[0].error_ppm == 333_333
    assert out[0].confused_with == 1 and out[0].n_confused == 1
    assert out[1].n_vectors == 1 and out[1].n_errors == 1
    assert out[1].error_ppm == 1_000_000
    assert out[1].confused_with == 0


def test_1nn_no_errors_yields_null_confusion(spark):
    """Perfectly separated labels: zero errors, NULL confused_with."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        knn_1nn_label_error,
    )

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.01], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.01, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    for r in knn_1nn_label_error(df, "vec_id", "embedding", "label").collect():
        assert r.n_errors == 0 and r.error_ppm == 0
        assert r.confused_with is None and r.n_confused is None


# ----- X202 weighted systematic sample ---------------------------------------


def test_wss_multiplicity_and_expectation(spark):
    """A row carrying > W/k of the weight MUST be picked with
    multiplicity >= floor(w*k/W); total threshold hits == k."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [(i, "t", 1) for i in range(10)] + [(99, "t", 90)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    out = weighted_systematic_sample(df, "doc_id", "n_chars", 10).collect()
    hits = {r.doc_id: r.multiplicity for r in out}
    # W=100, k=10: the weight-90 row owns 90% of the axis -> >= 8 hits
    assert hits[99] >= 8
    assert sum(hits.values()) == 10
    # weights surface unchanged
    w = {r.doc_id: r.weight for r in out}
    assert w[99] == 90


def test_wss_zero_weight_rows_excluded(spark):
    """Non-positive weights have zero inclusion probability."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [(1, "t", 0), (2, "t", -5), (3, "t", 10)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
    out = weighted_systematic_sample(df, "doc_id", "n_chars", 3).collect()
    assert {r.doc_id for r in out} == {3}
    assert sum(r.multiplicity for r in out) == 3


# ----- X203 ABC revenue classes ----------------------------------------------


def test_abc_inclusive_boundaries(spark):
    """Revenues 80/15/5 of the total: the 80%-cum part is A
    (inclusive boundary), the 95%-cum part is B, the rest C."""
    from poet_cloud_cost_etl_spark.operators.market import (
        part_revenue_abc,
    )

    li = spark.createDataFrame(
        [
            (1, 1, 800.0, 0.0, 1.0),
            (2, 2, 150.0, 0.0, 1.0),
            (3, 3, 50.0, 0.0, 1.0),
        ],
        _LI_COLS,
    )
    out = {r.abc_class: r for r in part_revenue_abc(li).collect()}
    assert set(out) == {"A", "B", "C"}
    assert out["A"].n_parts == 1 and out["A"].share_ppm == 800_000
    assert out["B"].n_parts == 1 and out["B"].share_ppm == 150_000
    assert out["C"].n_parts == 1 and out["C"].share_ppm == 50_000
    # 800.00 -> 80000 cents, x(100 - 0 discount ticks) = 8_000_000 e4
    assert int(out["A"].revenue_e4) == 80_000 * 100


# ----- staging gates (the r10..r15 protocol) ----------------------------------

_R16_WRAPPERS = (
    "_r16q_funnel_steps_conversion",
    "_r16q_inter_event_gap_quantiles",
    "_r16q_session_type_cooccurrence",
    "_r16q_market_basket_pairs",
    "_r16q_discount_qty_elasticity",
    "_r16q_knn_1nn_label_error",
    "_r16q_weighted_systematic_sample",
    "_r16q_part_revenue_abc",
)


def test_r16q_wrappers_survive_empty_input(spark, tmp_path):
    """P9 discipline applied at staging time: every r16-queue wrapper
    must run against schema-only empty tables."""
    from poet_cloud_cost_etl_spark import queries as Q

    out = str(tmp_path / "empty_sf")
    for t in ("documents", "embeddings", "events", "lineitem", "part"):
        spark.read.parquet(f"{SF_SMALL}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{out}/{t}.parquet")
    failures = {}
    for name in _R16_WRAPPERS:
        try:
            getattr(Q, name)(spark, out).count()
        except Exception as exc:
            failures[name] = str(exc).splitlines()[0][:120]
    assert not failures, failures


def test_r16q_plan_guards(spark):
    """Staging-time plan hygiene: no row-at-a-time Python UDF, no
    cartesian product over corpus-sized inputs, in any staged
    wrapper's plan."""
    from poet_cloud_cost_etl_spark import queries as Q

    for name in _R16_WRAPPERS:
        plan = (
            getattr(Q, name)(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_r16q_no_unpartitioned_data_window(spark):
    """The r16 cohort's design claim, asserted: three of the staged
    operators route running sums through the two-phase
    with_global_cumsum / with_grouped_cumsum helpers — no
    order-carrying Window without a partition spec may survive over
    anything data-cardinality-sized (the bounded bucket-offset /
    |steps|-panel windows are the allowed exceptions)."""
    from poet_cloud_cost_etl_spark import queries as Q

    for name in (
        "_r16q_inter_event_gap_quantiles",
        "_r16q_weighted_systematic_sample",
        "_r16q_part_revenue_abc",
    ):
        plan = (
            getattr(Q, name)(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.splitlines():
            s = line.strip().lstrip("+-*( ")
            if s.startswith("Window ") and (" ASC" in s or " DESC" in s):
                parts = s.count("], [")
                partitioned = parts >= 2 and "__bucket" in s.split("], [")[-2]
                bounded = "__bsum" in s or "__off" in s
                assert partitioned or bounded, f"{name}: {s}"


def test_r16q_two_leg_parity_sweep(spark):
    """Driver-fidelity sweep over the WHOLE r16 queue: exact
    fetchall() AND the pandas-materialization leg — the same gate
    every registered query passes, applied at staging time."""
    from poet_cloud_cost_etl_spark import queries as Q
    from poet_cloud_cost_etl_spark.oracles import R16_QUEUED_ORACLES
    from tests.oracle_harness import compare, duckdb_conn

    con = duckdb_conn(SF_SMALL)
    names = {
        "funnel_steps_conversion": Q._r16q_funnel_steps_conversion,
        "inter_event_gap_quantiles": Q._r16q_inter_event_gap_quantiles,
        "session_type_cooccurrence": Q._r16q_session_type_cooccurrence,
        "market_basket_pairs": Q._r16q_market_basket_pairs,
        "discount_qty_elasticity": Q._r16q_discount_qty_elasticity,
        "knn_1nn_label_error": Q._r16q_knn_1nn_label_error,
        "weighted_systematic_sample": Q._r16q_weighted_systematic_sample,
        "part_revenue_abc": Q._r16q_part_revenue_abc,
    }
    failures = {}
    for name, fn in names.items():
        c = compare(name, fn(spark, SF_SMALL), con, R16_QUEUED_ORACLES[name])
        if not c.match:
            failures[name] = c.mismatches
    assert not failures, failures
