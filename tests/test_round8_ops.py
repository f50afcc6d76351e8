"""Construction-based semantics pins for the round-8 operators
(X48-X53). Each test builds a tiny corpus where the right answer is
computable by hand (or an independent pure-python reference) and
asserts exact values — the oracle-parity sweep covers cross-engine
agreement; these cover the semantics themselves."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poet_cloud_cost_etl_spark.operators.dedup import neardup_degree_profile
from poet_cloud_cost_etl_spark.operators.embeddings import dimension_moments
from poet_cloud_cost_etl_spark.operators.packing import padding_plan
from poet_cloud_cost_etl_spark.operators.textstats import (
    charclass_profile,
    collocation_lift,
    lexical_diversity,
)


# ---------------------------------------------------------------- X48


def test_collocation_lift_hand_computed(spark):
    """Corpus: 10 docs of 'new york', 10 of free-floating fillers.
    'new york' always co-occurs; its lift must equal the hand
    formula, and it must outrank any filler pair."""
    rows = [(i, "new york") for i in range(10)] + [
        (100 + i, "alpha beta alpha beta alpha beta") for i in range(10)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = collocation_lift(df, "text", min_count=5, k=20).collect()
    assert out[0]["rank"] == 1
    by_pair = {(r["w1"], r["w2"]): r for r in out}
    ny = by_pair[("new", "york")]
    # counts: c_xy=10; c_new=10, c_york=10; Nw=80, Nb=60
    assert ny["pair_count"] == 10
    expected = round(((10.0 * 80) / 10) * (80.0 / 10) / 60, 6)
    assert ny["lift"] == expected
    # filler bigrams exist but with lower lift (their unigrams are 3x
    # more frequent than their pair share)
    assert ("alpha", "beta") in by_pair
    assert by_pair[("alpha", "beta")]["lift"] < ny["lift"]


def test_collocation_lift_min_count_prunes(spark):
    df = spark.createDataFrame(
        [(1, "rare pair"), (2, "only once here")], ["doc_id", "text"]
    )
    assert collocation_lift(df, "text", min_count=5, k=20).count() == 0


# ---------------------------------------------------------------- X49


def test_charclass_profile_exact_shares(spark):
    """'ab1 9' per doc: 2 letters, 2 digits, 1 space of 5 chars."""
    df = spark.createDataFrame(
        [(1, "ab1 9", "s1"), (2, "ab1 9", "s1"), (3, "!!!!", "s2")],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in charclass_profile(df, "source", "text").collect()}
    s1 = rows["s1"]
    assert s1["n_docs"] == 2 and s1["chars_total"] == 10
    assert s1["letter_share"] == 0.4
    assert s1["digit_share"] == 0.4
    assert s1["space_share"] == 0.2
    assert s1["other_share"] == 0.0
    s2 = rows["s2"]
    assert s2["other_share"] == 1.0 and s2["letter_share"] == 0.0


# ---------------------------------------------------------------- X51


def test_lexical_diversity_hand_computed(spark):
    """tokens: a a b c -> total 4, distinct 3, hapax 2 (b, c)."""
    df = spark.createDataFrame([(1, "a a b c", "s")], ["doc_id", "text", "source"])
    r = lexical_diversity(df, "source", "text").collect()[0]
    assert r["total_tokens"] == 4
    assert r["distinct_tokens"] == 3
    assert r["hapax_tokens"] == 2
    assert r["type_token_ratio"] == 0.75
    assert r["hapax_share"] == 0.666666  # (1e6*2) div 3 truncated


# ---------------------------------------------------------------- X52


def test_padding_plan_exact(spark):
    """9 docs of 10 tokens (cap 16) with batch_rows=8: 2 batches,
    slots 2*8*16=256, real 90, waste (256-90)/256."""
    text = " ".join(["w"] * 10)
    df = spark.createDataFrame([(i, text) for i in range(9)], ["doc_id", "text"])
    r = padding_plan(df, "doc_id", "text", batch_rows=8).collect()
    assert len(r) == 1
    row = r[0]
    assert row["cap"] == 16
    assert row["n_docs"] == 9
    assert row["n_batches"] == 2
    assert row["real_tokens"] == 90
    assert row["slot_tokens"] == 256
    assert row["waste_share"] == (1_000_000 * 166 // 256) / 1e6


def test_padding_plan_truncates_beyond_top_cap(spark):
    text = " ".join(["w"] * 5000)  # > top cap 4096
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = padding_plan(df, "doc_id", "text", batch_rows=8).collect()[0]
    assert row["cap"] == 4096 and row["real_tokens"] == 4096


# ---------------------------------------------------------------- X50


def test_dimension_moments_hand_computed(spark):
    """dim0 values [1.0, 3.0]: mean 2, var ((2*10+... -> exact
    population variance 1.0. dim1 constant: var 0."""
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [3.0, 5.0])], ["vec_id", "embedding"]
    )
    rows = {r["dim"]: r for r in dimension_moments(df, "embedding").collect()}
    assert rows[0]["mean"] == 2.0 and rows[0]["variance"] == 1.0
    assert rows[1]["mean"] == 5.0 and rows[1]["variance"] == 0.0
    assert rows[0]["n"] == 2


def test_dimension_moments_negative_and_fractional(spark):
    """Scaled-integer path must be exact on negatives and 1e-6-grid
    fractions: values [-0.5, 0.5] -> mean 0, var 0.25."""
    df = spark.createDataFrame(
        [(1, [-0.5]), (2, [0.5])], ["vec_id", "embedding"]
    )
    r = dimension_moments(df, "embedding").collect()[0]
    assert r["mean"] == 0.0 and r["variance"] == 0.25


# ---------------------------------------------------------------- X53


def test_neardup_degree_profile_histogram(spark):
    """Three identical docs form a triangle (degree 2 each); one
    unrelated doc has degree 0."""
    dup = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different content about databases and queries here"
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (3, dup), (4, other)], ["doc_id", "text"]
    )
    hist = {
        r["degree"]: r["n_docs"]
        for r in neardup_degree_profile(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert hist == {0: 1, 2: 3}


# ---------------------------------------------------------------- X54


def test_ivf_pq_topk_contract(spark):
    """On a 2-cluster corpus: every query's top-1 ADC neighbor lies
    in its own cluster (codewords and centroids both split by
    construction), ranks are 1..k dense, ADC distances are
    non-negative and non-decreasing in rank."""
    from poet_cloud_cost_etl_spark.operators.embeddings import ivf_pq_topk

    rows = [(2 + i, [0.0 + i * 0.01] * 8) for i in range(5)] + [
        (100 + i, [100.0 + i * 0.01] * 8) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id").isin([2, 100]))
    out = ivf_pq_topk(q, df, "vec_id", "embedding", k=3, n_centroids=2, nprobe=1, m=2, ksub=2)
    res = out.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert all(d >= 0 for d in dists)
        assert dists == sorted(dists)
        assert (rs[0]["neighbor_id"] < 100) == (qid < 100)


# ---------------------------------------------------------------- X55


def test_standardize_dims_zero_mean_unit_spread(spark):
    """Values [1, 3] on dim0: mean 2, var 1 -> z = [-1, 1]. Constant
    dim -> z = 0 (no division by zero)."""
    from poet_cloud_cost_etl_spark.operators.embeddings import standardize_dims

    df = spark.createDataFrame(
        [(1, [1.0, 7.0]), (2, [3.0, 7.0])], ["vec_id", "embedding"]
    )
    rows = {(r["vec_id"], r["dim"]): r["zscore"] for r in standardize_dims(df, "vec_id", "embedding").collect()}
    assert rows[(1, 0)] == -1.0 and rows[(2, 0)] == 1.0
    assert rows[(1, 1)] == 0.0 and rows[(2, 1)] == 0.0


# ---------------------------------------------------------------- X59


def test_trigram_backoff_pruned_model_backs_off(spark):
    """'a b c' appears 3x (survives min_count=3): score
    (1e6*3) div 3 = 1.0. 'x y z' appears once (pruned): backoff
    0.4 * c('y z')/c('y') = 0.4 with n_backoff 1."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        trigram_backoff_scores,
    )

    rows = [(1, "a b c"), (2, "a b c"), (3, "a b c"), (4, "x y z")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in trigram_backoff_scores(df, "doc_id", "text", min_count=3).collect()}
    assert out[1]["n_trigrams"] == 1 and out[1]["n_backoff"] == 0
    assert out[1]["avg_score"] == 1.0
    assert out[4]["n_backoff"] == 1
    assert out[4]["avg_score"] == 0.4


def test_trigram_backoff_short_docs_excluded(spark):
    from poet_cloud_cost_etl_spark.operators.textstats import (
        trigram_backoff_scores,
    )

    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    assert trigram_backoff_scores(df, "doc_id", "text").count() == 0
