"""Connected-components algorithm equivalence and convergence-rate
tests (operators/graph.py): min-label propagation vs the
large-star/small-star alternation must produce identical labels, and
star must converge in O(log n) rounds on the chain graphs that defeat
min-label's diameter-round bound."""

from __future__ import annotations

import pytest

from poet_cloud_cost_etl_spark.operators.graph import connected_components


def _labels(nodes_df, edges_df, **kw):
    return {
        r.id: r.cluster_id
        for r in connected_components(nodes_df, edges_df, **kw).collect()
    }


def _fixture_graph(spark):
    # two multi-node components, one isolated pair, one singleton
    nodes = spark.createDataFrame([(i,) for i in range(1, 12)], ["id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (9, 10)], ["src", "dst"]
    )
    return nodes, edges


def test_star_matches_minlabel_on_fixture(spark):
    nodes, edges = _fixture_graph(spark)
    assert _labels(nodes, edges, algo="star") == _labels(
        nodes, edges, algo="minlabel"
    )


def test_star_fixture_labels_are_component_minima(spark):
    nodes, edges = _fixture_graph(spark)
    got = _labels(nodes, edges, algo="star")
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9, 10: 9, 11: 11}
    assert got == expect


def test_star_handles_empty_edges(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    edges = spark.createDataFrame([], "src INT, dst INT")
    assert _labels(nodes, edges, algo="star") == {1: 1, 2: 2, 3: 3, 4: 4}


def test_star_converges_logarithmically_on_chain(spark):
    """A 64-node chain has diameter 63: min-label needs 63 rounds, the
    star alternation O(log n). Pin the gap — star finishes within 12
    rounds where min-label (given the same budget) must raise."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])

    got = _labels(nodes, edges, algo="star", max_iter=12)
    assert got == {i: 0 for i in range(n)}

    with pytest.raises(RuntimeError, match="did not confirm convergence"):
        connected_components(nodes, edges, algo="minlabel", max_iter=12).collect()


def test_star_matches_minlabel_on_real_pair_graph(spark):
    """Equivalence on the REAL near-dup pair graph (sf0.01 documents →
    n-gram Jaccard pairs), not just toy fixtures — the exact graph the
    registered ``dedup_clusters`` query clusters with minlabel."""
    from conftest import SF_MEDIUM

    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import ngram_jaccard_from_docs

    d = table(spark, SF_MEDIUM, "documents")
    pairs = ngram_jaccard_from_docs(
        d, "doc_id", "text", threshold=0.5
    ).localCheckpoint(eager=True)
    assert pairs.count() > 0, "fixture pair graph unexpectedly empty"
    nodes = d.select("doc_id")
    kw = dict(id_col="doc_id", src_col="doc_a", dst_col="doc_b")

    def labels(algo):
        return {
            r.doc_id: r.cluster_id
            for r in connected_components(nodes, pairs, algo=algo, **kw).collect()
        }

    star, minlabel = labels("star"), labels("minlabel")
    assert star == minlabel
    assert len(star) == nodes.count()


def test_unknown_algo_rejected(spark):
    nodes, edges = _fixture_graph(spark)
    with pytest.raises(ValueError, match="unknown algo"):
        connected_components(nodes, edges, algo="bogus")


def test_fixed_rounds_matches_probe_path(spark):
    """fixed_rounds (one materialize job + one confirming round) must
    produce exactly the probe path's labels on the fixture graph
    (diameter 3 ≤ 4)."""
    nodes, edges = _fixture_graph(spark)
    assert _labels(nodes, edges, fixed_rounds=4) == _labels(nodes, edges)


def test_fixed_rounds_matches_on_real_pair_graph(spark):
    """The registered dedup_clusters configuration (fixed_rounds=4)
    against the probe path on the real sf0.01 near-dup pair graph."""
    from conftest import SF_MEDIUM

    from poet_cloud_cost_etl_spark.catalog import table
    from poet_cloud_cost_etl_spark.operators.dedup import ngram_jaccard_from_docs

    d = table(spark, SF_MEDIUM, "documents")
    pairs = ngram_jaccard_from_docs(
        d, "doc_id", "text", threshold=0.5
    ).localCheckpoint(eager=True)
    nodes = d.select("doc_id")
    kw = dict(id_col="doc_id", src_col="doc_a", dst_col="doc_b")
    fixed = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs, fixed_rounds=4, **kw).collect()
    }
    probed = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, pairs, **kw).collect()
    }
    assert fixed == probed


def test_fixed_rounds_too_small_raises_not_wrong(spark):
    """An under-estimated diameter bound must RAISE at the confirming
    round — never return labels that split a component."""
    n = 16  # chain of diameter 15 >> fixed_rounds=2
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="fixed_rounds=2"):
        connected_components(nodes, edges, fixed_rounds=2).collect()


def test_fixed_rounds_rejected_for_star(spark):
    """fixed_rounds is documented minlabel-only; algo='star' must
    refuse it loudly instead of silently taking the probe-per-round
    star path (r6 advice)."""
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with pytest.raises(ValueError, match="minlabel-only"):
        connected_components(nodes, edges, algo="star", fixed_rounds=4)


# ---------------------------------------------------------------------------
# r15 (ADVICE r14 items 1-2): contract violations — an edge endpoint
# missing from ``nodes`` — must be DETECTED (loud error), never
# silently returned as split components / wrong distances.  The
# missing endpoint has no self row, so its __prev is NULL; the
# NULL-safe probes keep flagging it as changed until max_iter (probe
# path) or the fixed_rounds confirm raises.
# ---------------------------------------------------------------------------


def test_missing_endpoint_detected_probe_path(spark):
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])  # 3 ∉ nodes
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, max_iter=4)


def test_missing_endpoint_detected_fixed_rounds(spark):
    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, fixed_rounds=3)


def test_missing_endpoint_detected_cluster_hops(spark):
    from poet_cloud_cost_etl_spark.operators.graph import cluster_hops

    nodes = spark.createDataFrame([(1,), (2,)], ["id"])
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    with pytest.raises(RuntimeError):
        cluster_hops(nodes, edges, max_iter=4)
