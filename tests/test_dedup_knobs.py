"""Blocked pair generation: every dedup candidate generator runs on the
one ``_bucket_pairs`` kernel, whose small/hot split is internal
(``HOT_BUCKET_SIZE``) and result-neutral; ``max_df`` is the documented
recall-trading stop-shingle cap (changes results, so it stays off in
the oracle-checked query)."""

from __future__ import annotations

import inspect
import re

import pytest

from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.operators import dedup
from poet_cloud_cost_etl_spark.operators.dedup import doc_shingles, ngram_jaccard_pairs
from poet_cloud_cost_etl_spark.plans import explain as X

from tests.conftest import SF_MEDIUM, SF_SMALL


def _pairs(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def test_max_df_only_removes_pairs(spark):
    d = table(spark, SF_MEDIUM, "documents")
    sh = doc_shingles(d, "doc_id", "text")
    base = _pairs(ngram_jaccard_pairs(sh, "doc_id", threshold=0.5))
    capped = ngram_jaccard_pairs(sh, "doc_id", threshold=0.5, max_df=50)
    capped_keys = {(a, b) for a, b, _ in _pairs(capped)}
    base_keys = {(a, b) for a, b, _ in base}
    assert capped_keys <= base_keys


_GENERATORS = {
    "lsh_candidate_pairs": lambda d: dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(doc_shingles(d, "doc_id", "text"), "doc_id"),
        "doc_id",
    ),
    "ngram_jaccard_from_docs": lambda d: dedup.ngram_jaccard_from_docs(
        d, "doc_id", "text", 0.5
    ),
    "containment_pairs": lambda d: dedup.containment_pairs(
        d, "doc_id", "text", threshold=0.5
    ),
    "simhash_hamming_pairs": lambda d: dedup.simhash_hamming_pairs(
        d, "doc_id", "text"
    ),
    "prefix_filter_jaccard_join": lambda d: dedup.prefix_filter_jaccard_join(
        d, "doc_id", "text"
    ),
    "tfidf_cosine_pairs": lambda d: dedup.tfidf_cosine_pairs(d, "doc_id", "text"),
    "bag_jaccard_pairs": lambda d: dedup.bag_jaccard_pairs(d, "doc_id", "text"),
}


@pytest.mark.parametrize("name", sorted(_GENERATORS))
def test_hot_bucket_branch_is_result_identical(spark, monkeypatch, name):
    """Forcing every bucket through the skew-escape self-join branch
    (HOT_BUCKET_SIZE=1) must produce exactly the grouped-path rows."""
    d = table(spark, SF_SMALL, "documents")
    make = _GENERATORS[name]
    grouped = sorted(map(tuple, make(d).collect()))
    monkeypatch.setattr(dedup, "HOT_BUCKET_SIZE", 1)
    joined = sorted(map(tuple, make(d).collect()))
    assert grouped == joined and grouped


def test_bucket_pairs_contract(spark, monkeypatch):
    """One row per (bucket, pair), doc_a < doc_b, payload suffixed
    _a/_b; singleton and over-``max_size`` buckets yield nothing; the
    hot threshold is read when the plan is built."""
    rows = spark.createDataFrame(
        [
            ("k1", 3, 30), ("k1", 1, 10), ("k1", 2, 20),  # 3 pairs
            ("k2", 1, 10), ("k2", 3, 30),  # 1 pair
            ("k3", 9, 90),  # singleton: none
        ],
        ["key", "doc_id", "w"],
    )
    want = sorted([
        (1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30), (1, 3, 10, 30),
    ])
    for hot in (1024, 1):
        monkeypatch.setattr(dedup, "HOT_BUCKET_SIZE", hot)
        pairs = dedup._bucket_pairs(rows, ["key"], "doc_id", ("w",))
        assert pairs.columns == ["doc_a", "doc_b", "w_a", "w_b"]
        assert sorted(map(tuple, pairs.collect())) == want
        capped = dedup._bucket_pairs(rows, ["key"], "doc_id", max_size=2)
        assert sorted(map(tuple, capped.collect())) == [(1, 3)]
    monkeypatch.setattr(dedup, "HOT_BUCKET_SIZE", 7)
    plan = X.physical_plan(dedup._bucket_pairs(rows, ["key"], "doc_id"))
    assert re.search(r"size\(ids#\d+, true\) > 7\)", plan), plan


def test_no_bucket_knobs():
    """The small/hot split and the df=1 prune are internal to the pair
    kernel: no public dedup operator exposes them."""
    for name, fn in inspect.getmembers(dedup, inspect.isfunction):
        if name.startswith("_") or fn.__module__ != dedup.__name__:
            continue
        params = inspect.signature(fn).parameters
        assert "split_threshold" not in params, name
        assert "min_df" not in params, name
