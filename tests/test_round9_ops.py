"""Round-9 operator unit tests (X128/X134/X135/X136/X145 batch):
hand-computed fixtures pinning the exact-integer semantics each
operator promises, independent of the DuckDB parity sweep."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def test_term_burstiness_hand_computed(spark):
    """tf/df and top-doc concentration on a 3-doc corpus: 'the'
    appears in all docs (burstiness from repeats), 'x' is a one-doc
    burst."""
    from poet_cloud_cost_etl_spark.operators.textstats import term_burstiness

    docs = [
        (1, "the cat the dog"),
        (2, "the fish"),
        (3, "x x x x the"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.term: r for r in term_burstiness(df, "doc_id", "text").collect()}
    t = out["the"]
    assert (t.df, t.tf, t.max_doc_tf) == (3, 4, 2)
    assert t.burstiness_e3 == (1000 * 4) // 3
    assert t.conc_ppm == (1_000_000 * 2) // 4
    x = out["x"]
    assert (x.df, x.tf, x.max_doc_tf) == (1, 4, 4)
    assert x.burstiness_e3 == 4000 and x.conc_ppm == 1_000_000
    # deterministic ordering: df desc then term asc
    rows = term_burstiness(df, "doc_id", "text").collect()
    assert rows[0].term == "the"


def test_winsorized_panel_exact_ranks(spark):
    """100 values 1..100 in one group: P1 = value at rank 1 = 1,
    P99 = value at rank 99 = 99, so only v=100 clips high; the
    winsorized mean is (sum(1..99) + 99) div 100."""
    from poet_cloud_cost_etl_spark.operators.textstats import winsorized_panel

    df = spark.createDataFrame(
        [("a", v, v) for v in range(1, 101)], ["grp", "v", "rid"]
    )
    row = winsorized_panel(df, "grp", "v", "rid").collect()[0]
    assert (row.p_lo, row.p_hi) == (1, 99)
    assert row.n_clipped_low == 0 and row.n_clipped_high == 1
    assert row.win_mean == (sum(range(1, 100)) + 99) // 100
    assert row.clipped_ppm == 1_000_000 * 1 // 100


def test_output_file_plan_ceil_divisions(spark):
    """3 rows of 40 KiB against a 64 KiB budget: 120 KiB -> 2 files,
    ceil(3/2)=2 rows per file; a single 100 KiB row is oversize."""
    from poet_cloud_cost_etl_spark.operators.aggregates import output_file_plan

    rows = [
        ("s1", "a" * 40_960),
        ("s1", "b" * 40_960),
        ("s1", "c" * 40_960),
        ("s2", "d" * 102_400),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {
        r.source: r
        for r in output_file_plan(
            df, "source", "text", target_file_bytes=65536
        ).collect()
    }
    s1 = out["s1"]
    assert s1.total_bytes == 3 * 40_960
    assert s1.n_files == (3 * 40_960 + 65535) // 65536 == 2
    assert s1.rows_per_file == 2
    s2 = out["s2"]
    assert s2.n_oversize_rows == 1 and s2.max_row_bytes == 102_400
    assert s2.n_files == 2  # ceil(102400/65536)


def test_zorder_locality_interleave_and_coverage(spark):
    """A 2x2 extreme grid (corners of the value space): each corner
    quantizes to cell 0 or 15 per dim, Morton keys land in distinct
    Z-ranges, and each range's envelope covers only its corner
    (coverage ppm well below 1e6)."""
    from poet_cloud_cost_etl_spark.operators.aggregates import zorder_locality

    rows = [(0, 0), (0, 150), (150, 0), (150, 150)]
    df = spark.createDataFrame(rows, ["d1", "d2"])
    out = zorder_locality(df, "d1", "d2", bits=4).collect()
    assert len(out) == 4  # four corners -> four distinct z-ranges
    assert {r.n_rows for r in out} == {1}
    for r in out:
        # single-point envelope: coverage = 1e6 * 1 / 151
        assert r.d1_coverage_ppm == 1_000_000 // 151
        assert r.d2_coverage_ppm == 1_000_000 // 151
    # Morton property: (0,0) is z-range 0; (150,150) -> cells (15,15)
    # -> zkey 255 -> range 15
    zr = sorted(r.zrange for r in out)
    assert zr[0] == 0 and zr[-1] == 15


def test_freshness_decay_staircase(spark):
    """Ages 0/30/60/630 days at half-life 30: weights 1e6, 5e5,
    25e4, 0 (>= 20 half-lives); weighted cents floor-divide
    per-row."""
    from poet_cloud_cost_etl_spark.operators.aggregates import (
        freshness_decay_weights,
    )

    base = datetime(2026, 1, 1)
    rows = [
        ("t", datetime(2026, 1, 1), 10.0),
        ("t", datetime(2025, 12, 2), 10.0),  # 30 days
        ("t", datetime(2025, 11, 2), 10.0),  # 60 days
        ("t", datetime(2024, 4, 11), 10.0),  # 630 days = 21 half-lives
    ]
    df = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    out = freshness_decay_weights(
        df, "event_type", "ts", F.round(F.col("value") * 100, 0).cast("long")
    ).collect()[0]
    assert out.n_events == 4
    assert out.weight_sum_ppm == 1_000_000 + 500_000 + 250_000 + 0
    assert out.mean_weight_ppm == 1_750_000 // 4
    assert out.raw_cents == 4000
    assert out.weighted_cents == 1000 + 500 + 250 + 0


def test_centroid_silhouette_well_separated(spark):
    """Two tight orthogonal clusters: every vector's own-centroid
    distance is tiny vs the cross-centroid distance, so the
    silhouette is high and nothing is ambiguous."""
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        centroid_silhouette,
    )

    # centroid seeds are the two md5-smallest ids (the deterministic
    # X8 draw) — put them in DIFFERENT clusters by construction
    import hashlib

    ids = list(range(12))
    by_md5 = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    group_a = {by_md5[0]} | set(by_md5[2:7])
    rows = [
        (
            i,
            [1.0, 0.0, float(i) * 1e-4]
            if i in group_a
            else [0.0, 1.0, float(i) * 1e-4],
        )
        for i in ids
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = centroid_silhouette(df, "vec_id", "embedding", n_centroids=2)
    rows = out.collect()
    assert len(rows) == 2
    for r in rows:
        assert r.n_vectors == 6
        assert r.mean_sil_ppm > 900_000
        assert r.ambiguous_ppm == 0


def test_lloyd_step_improves_objective(spark):
    """On the fixture embeddings, one Lloyd round must not reduce
    the membership-weighted mean assignment similarity — checked as:
    overall weighted mean after >= before (k-means monotonicity,
    exact integers)."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        lloyd_step_diagnostics,
    )
    from tests.conftest import SF_SMALL

    emb = _t(spark, SF_SMALL, "embeddings")
    rows = lloyd_step_diagnostics(emb, "vec_id", "embedding").collect()
    assert len(rows) == 8
    before = sum(r.n_before * r.mean_sim_before_e6 for r in rows)
    n_b = sum(r.n_before for r in rows)
    after = sum(r.n_after * (r.mean_sim_after_e6 or 0) for r in rows)
    n_a = sum(r.n_after for r in rows)
    assert n_b == n_a  # every vector reassigned somewhere
    assert after / n_a >= before / n_b
    for r in rows:
        assert 0 <= r.cos_move_e6 <= 1_000_000


def test_threshold_calibration_monotone(spark):
    """Raising the threshold can only shrink predictions and true
    positives (monotone counts), and precision/recall stay in
    [0, 1e6] or NULL."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.similarity import (
        cosine_threshold_calibration,
    )
    from tests.conftest import SF_SMALL

    emb = _t(spark, SF_SMALL, "embeddings")
    rows = cosine_threshold_calibration(
        emb, "vec_id", "embedding", "label"
    ).collect()
    assert [r.thr_ppm for r in rows] == sorted(r.thr_ppm for r in rows)
    assert len({r.n_pairs for r in rows}) == 1  # same candidate set
    for lo, hi in zip(rows, rows[1:]):
        assert hi.n_pred <= lo.n_pred and hi.n_tp <= lo.n_tp
    for r in rows:
        for v in (r.precision_ppm, r.recall_ppm):
            assert v is None or 0 <= v <= 1_000_000


def test_perplexity_buckets_tercile_shape(spark):
    """Terciles partition each language's scoreable docs into three
    nearly-equal buckets with head >= middle >= tail mean scores."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.textstats import (
        perplexity_buckets,
    )
    from tests.conftest import SF_SMALL

    d = _t(spark, SF_SMALL, "documents")
    rows = perplexity_buckets(d, "doc_id", "text", "lang").collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}, lang
        assert (
            b["head"].mean_score_ppm
            >= b["middle"].mean_score_ppm
            >= b["tail"].mean_score_ppm
        )
        sizes = sorted(x.n_docs for x in b.values())
        assert sizes[-1] - sizes[0] <= 1  # near-equal terciles


def test_lang_mixture_flags_code_switch(spark):
    """A doc whose first 64-token chunk is English markers and second
    chunk is German markers must be flagged mixed; monolingual and
    marker-free docs must not."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        lang_mixture_panel,
    )

    en = ("the and of to is a " * 11).strip()  # 66 tokens -> 2 chunks
    de = "der die das und nicht " * 13
    mixed = en + " " + de
    mono = "the cat sat on the mat"
    nomark = "zzz qqq www"
    df = spark.createDataFrame(
        [(1, mixed, "s1"), (2, mono, "s1"), (3, nomark, "s2")],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in lang_mixture_panel(df, "doc_id", "text", "source").collect()}
    assert out["s1"].n_mixed_docs == 1 and out["s1"].n_docs == 2
    assert out["s1"].mixed_ppm == 500_000
    assert out["s2"].n_mixed_docs == 0 and out["s2"].n_unknown_docs == 1


def test_domain_tag_rules_and_precedence(spark):
    """Marker rules and the code > news > legal > general precedence,
    including the tie case (equal code and news hits -> code)."""
    from poet_cloud_cost_etl_spark.operators.textstats import (
        domain_tag_mixture,
    )

    docs = [
        (1, "def foo return bar"),          # code
        (2, "he said the report today"),    # news
        (3, "shall be pursuant to law"),    # legal
        (4, "plain words only here"),       # general
        (5, "def said"),                    # tie code/news -> code
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.domain: r for r in domain_tag_mixture(df, "doc_id", "text").collect()}
    assert out["code"].n_docs == 2
    assert out["news"].n_docs == 1
    assert out["legal"].n_docs == 1
    assert out["general"].n_docs == 1
    assert sum(r.doc_share_ppm for r in out.values()) <= 1_000_000
    assert out["code"].doc_share_ppm == 400_000


def test_markup_density_counts(spark):
    """Tag/link/punct regex counts on crafted rows."""
    from poet_cloud_cost_etl_spark.operators.textstats import markup_density

    docs = [
        ("s", "<div>hello</div> see https://x.test now!"),
        ("s", "no markup here"),
    ]
    df = spark.createDataFrame(docs, ["source", "text"])
    r = markup_density(df, "source", "text").collect()[0]
    # '<[a-zA-Z]' matches the opening '<d' only ('</div>' starts '</')
    assert r.tag_count == 1
    assert r.link_count == 1
    assert r.docs_with_markup == 1
    assert r.docs_no_punct == 1
    assert r.sentence_punct == 2  # '.' in x.test + '!' in now!


def test_unique_token_mass_attribution(spark):
    """Doc 1 introduces every shingle; doc 2 (other source) restates
    them: source of doc 1 gets full novelty, doc 2's source zero."""
    from poet_cloud_cost_etl_spark.operators.dedup import unique_token_mass

    text = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [(1, text, "first"), (2, text, "second")],
        ["doc_id", "text", "source"],
    )
    out = {r.source: r for r in unique_token_mass(df, "doc_id", "text", "source").collect()}
    assert out["first"].novel_ppm == 1_000_000
    assert out["second"].novel_ppm == 0
    assert out["first"].n_instances == out["second"].n_instances == 3


def test_boundary_chains_detects_split_docs(spark):
    """Doc A's tail 3-shingle equals doc B's head -> one edge; the
    df-capped template boundary is excluded."""
    from poet_cloud_cost_etl_spark.operators.dedup import (
        boundary_overlap_chains,
    )

    a = "one two three four five six"
    b = "four five six seven eight nine"
    docs = [(1, a, "s1"), (2, b, "s2"), (3, "zz yy xx", "s3")]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    rows = boundary_overlap_chains(df, "doc_id", "text", "source").collect()
    assert len(rows) == 1
    e = rows[0]
    assert (e.source_from, e.source_to, e.n_edges) == ("s1", "s2", 1)

    # template boundary shared by many heads is dropped at the cap
    tmpl = [(i, "click here now plus unique" + str(i), f"t{i}") for i in range(10)]
    tmpl.append((99, "ending with click here now", "src_tail"))
    df2 = spark.createDataFrame(tmpl, ["doc_id", "text", "source"])
    rows2 = boundary_overlap_chains(
        df2, "doc_id", "text", "source", max_boundary_df=5
    ).collect()
    assert rows2 == []


def test_quantile_sample_error_full_sample_is_exact(spark):
    """With sample_mod=1 the 'sample' IS the full data, so every
    estimate equals the exact order statistic and rank error is 0."""
    from poet_cloud_cost_etl_spark.operators.aggregates import (
        quantile_sample_error,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 100) for i in range(200)], ["k", "v"]
    )
    rows = quantile_sample_error(df, "k", "v", sample_mod=1).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.est_value == r.exact_value
        assert r.rank_err_ppm == 0


def test_greedy_coverage_is_marginal_not_raw(spark):
    """Source B has the biggest raw vocabulary but is a subset of
    A union C's coverage path: greedy must pick by MARGINAL gain
    with exact counts, cumulative total = distinct union."""
    from poet_cloud_cost_etl_spark.operators.sampling import (
        greedy_source_coverage,
    )

    # A: shingles {a1..a6}; B: {a1..a5} (subset-heavy); C: {c1..c3}
    mk = lambda toks: " ".join(toks)
    A = mk([f"w{i}" for i in range(8)])          # 6 shingles
    B = mk([f"w{i}" for i in range(7)])          # 5 shingles, all in A
    C = mk([f"z{i}" for i in range(5)])          # 3 novel shingles
    df = spark.createDataFrame(
        [(1, A, "A"), (2, B, "B"), (3, C, "C")],
        ["doc_id", "text", "source"],
    )
    rows = greedy_source_coverage(df, "doc_id", "text", "source", steps=3).collect()
    # B's marginal gain is 0 once A is covered, and a source with no
    # remaining shingles is unpickable — the selection stops early
    # when coverage is complete (identical semantics in the oracle)
    assert [r.source for r in rows] == ["A", "C"]
    assert [r.gain for r in rows] == [6, 3]
    assert rows[-1].covered_total == 9


def test_contrastive_plan_negative_math(spark):
    """One batch, two docs with 2 and 1 pairs: sum=3, sum_sq=5,
    mean_neg_e3 = 1000*(9-5)//3, min_neg = 3-2."""
    from poet_cloud_cost_etl_spark.operators.packing import (
        contrastive_pairs_plan,
    )

    t3 = " ".join(f"w{i}" for i in range(130))  # 3 chunks -> 2 pairs
    t2 = " ".join(f"v{i}" for i in range(70))   # 2 chunks -> 1 pair
    df = spark.createDataFrame(
        [(1, t3), (2, t2)], ["doc_id", "text"]
    )
    rows = contrastive_pairs_plan(df, "doc_id", "text", n_batches=1).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_docs, r.n_pairs) == (2, 3)
    assert r.min_neg_per_pair == 1
    assert r.mean_neg_per_pair_e3 == (1000 * (9 - 5)) // 3


def test_survivor_bias_policies(spark):
    """Two clusters with known scores: best_score keeps the max,
    min_id keeps the lowest id, corpus keeps all."""
    from poet_cloud_cost_etl_spark.operators.dedup import survivor_bias_panel

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)], ["doc_id", "cluster_id"]
    )
    scores = spark.createDataFrame(
        [(1, 50), (2, 75), (3, 100), (4, 25)], ["doc_id", "score_e2"]
    )
    out = {
        r.policy: r
        for r in survivor_bias_panel(
            clusters, scores, "doc_id", "cluster_id", "score_e2"
        ).collect()
    }
    assert out["corpus"].n_docs == 4 and out["corpus"].mean_score_e2 == 62
    assert out["min_id"].n_docs == 2 and out["min_id"].mean_score_e2 == 75
    assert out["best_score"].mean_score_e2 == (75 + 100) // 2


def test_pc_variance_explained_bounds(spark):
    """On the fixture embeddings: trace > 0, 0 < explained <= 1e6,
    and pc_variance <= trace (the top direction can't carry more
    than the whole spectrum)."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.embeddings import (
        pc_variance_explained,
    )
    from tests.conftest import SF_SMALL

    emb = _t(spark, SF_SMALL, "embeddings")
    r = pc_variance_explained(emb, "embedding", 64).collect()[0]
    assert r.trace_total > 0
    assert 0 < r.explained_ppm <= 1_000_000
    assert r.pc_variance <= r.trace_total


def test_margin_mining_hub_suppression(spark):
    """A hub vector close to every candidate gets margin ~1 while a
    genuinely matched pair scores a higher margin despite a lower
    absolute cosine being possible elsewhere."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.similarity import margin_knn_pairs
    from tests.conftest import SF_SMALL

    emb = _t(spark, SF_SMALL, "embeddings")
    rows = margin_knn_pairs(emb, "vec_id", "embedding", "label").collect()
    assert 0 < len(rows) <= 20
    margins = [r.margin_ppm for r in rows if r.margin_ppm is not None]
    assert margins == sorted(margins, reverse=True)
    # margin is a RATIO to the neighborhood mean: the top pair must
    # beat its own neighborhoods (> 1e6)
    assert margins[0] > 1_000_000


def _all_expr_vs_all_gemm(monkeypatch, run):
    """``run()`` under each single pair engine: GEMM_MIN_BUCKET past
    every bucket forces the expr self-join, 1 forces the BLAS kernel
    (the ``_pair_scores`` size split is the only engine choice)."""
    from poet_cloud_cost_etl_spark.operators import similarity as S

    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 10**9)
    expr = run()
    monkeypatch.setattr(S, "GEMM_MIN_BUCKET", 1)
    gemm = run()
    return expr, gemm


def test_semantic_dedup_gemm_matches_expr(spark, monkeypatch):
    """The GEMM within-bucket kernel (r8 verdict task 6) must agree
    bit-for-bit with the interpreted expr path on the fixture
    embeddings — flat and tree, dup flags AND bucket ids."""
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_tree,
    )
    from tests.conftest import SF_SMALL

    emb = _t(spark, SF_SMALL, "embeddings")
    for thr in (0.35, 0.95):
        flat_e, flat_g = _all_expr_vs_all_gemm(
            monkeypatch,
            lambda: {
                (r.vec_id, r.centroid_id, r.is_dup)
                for r in semantic_dedup(
                    emb, "vec_id", "embedding", threshold=thr
                ).collect()
            },
        )
        assert flat_e == flat_g, f"flat mismatch at thr={thr}"
    tree_e, tree_g = _all_expr_vs_all_gemm(
        monkeypatch,
        lambda: {
            (r.vec_id, r.leaf_id, r.is_dup)
            for r in semantic_dedup_tree(
                emb, "vec_id", "embedding", threshold=0.35
            ).collect()
        },
    )
    assert tree_e == tree_g


def test_pair_scores_gemm_matches_expr(spark, monkeypatch):
    """The shared BLAS pair-scoring kernel (X129/X137 gemm path)
    must agree bit-for-bit with the interpreted expr pair stage —
    threshold-calibration table AND margin-ranked pair list,
    including NULL margins and tie-broken ordering."""
    from tests.conftest import SF_SMALL
    from poet_cloud_cost_etl_spark.catalog import table as _t
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _bucket_pair_scores_expr,
        _bucket_pair_scores_gemm,
        cosine_threshold_calibration,
        ivf_tree_assign,
        margin_knn_pairs,
    )

    emb = _t(spark, SF_SMALL, "embeddings")
    cal_e, cal_g = _all_expr_vs_all_gemm(
        monkeypatch,
        lambda: [
            tuple(r)
            for r in cosine_threshold_calibration(
                emb, "vec_id", "embedding", "label"
            ).collect()
        ],
    )
    assert cal_e == cal_g
    mar_e, mar_g = _all_expr_vs_all_gemm(
        monkeypatch,
        lambda: [
            tuple(r)
            for r in margin_knn_pairs(
                emb, "vec_id", "embedding", "label"
            ).collect()
        ],
    )
    assert mar_e == mar_g
    # tree buckets (the scale bucketing, 16 leaves): the two kernels
    # must also agree on the tree's partition, in the calibration's
    # self mode with a payload and in the margin's cross mode
    leaves = ivf_tree_assign(
        emb, "vec_id", "embedding", branching=4, depth=2
    ).join(emb.select("vec_id", "label"), "vec_id").withColumn(
        "__g", F.col("label") % 2
    )
    for kw in (dict(payload_cols=("label",)), dict(cross_col="__g")):
        e_rows, g_rows = (
            sorted(
                tuple(r)
                for r in kern(
                    leaves, "leaf_id", "vec_id", "embedding", **kw
                ).collect()
            )
            for kern in (_bucket_pair_scores_expr, _bucket_pair_scores_gemm)
        )
        assert e_rows == g_rows and len(e_rows) > 0, kw


def test_bucket_pair_scores_gemm_edges(spark):
    """Kernel edge semantics pinned by hand: a zero-norm side yields
    NULL cos_e6 (the SQL x/0 convention the expr path inherits), a
    singleton bucket emits no pairs, cross mode emits only 0-side ×
    1-side pairs (an empty side → nothing), and payload columns ride
    along as <p>_a/<p>_b."""
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _bucket_pair_scores_gemm,
    )

    rows = [
        (1, [1.0, 0.0], 0, "p"),
        (2, [0.0, 0.0], 0, "q"),  # zero norm
        (3, [1.0, 1.0], 0, "r"),
        (9, [1.0, 0.0], 1, "s"),  # singleton bucket
    ]
    df = spark.createDataFrame(rows, ["vid", "vec", "b", "lab"])
    out = {
        (r.id_a, r.id_b): r
        for r in _bucket_pair_scores_gemm(
            df, "b", "vid", "vec", payload_cols=("lab",)
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    assert out[(1, 2)].cos_e6 is None and out[(2, 3)].cos_e6 is None
    assert out[(1, 3)].cos_e6 == 707107  # round(cos 45°, 6)·1e6
    assert (out[(1, 3)].lab_a, out[(1, 3)].lab_b) == ("p", "r")

    cr = [
        (1, [1.0, 0.0], 0, 0),
        (2, [0.0, 1.0], 0, 0),
        (3, [1.0, 0.0], 0, 1),
        (7, [1.0, 0.0], 5, 0),  # bucket 5 has no side-1 rows
    ]
    cdf = spark.createDataFrame(cr, ["vid", "vec", "b", "g"])
    pairs = {
        (r.id_a, r.id_b): r.cos_e6
        for r in _bucket_pair_scores_gemm(
            cdf, "b", "vid", "vec", cross_col="g"
        ).collect()
    }
    assert pairs == {(1, 3): 1_000_000, (2, 3): 0}


def test_rolling_distinct_hll_twin(spark):
    """impl="hll" (per-day DataSketches sketch + windowed
    hll_union_agg merge) must cover the same days as the exact
    fan-out form with estimates within HLL tolerance — and its
    fan-out join must run over the n_days-row sketch table, which
    is the whole point of the sketch twin."""
    from datetime import date
    from poet_cloud_cost_etl_spark.operators.timeseries import (
        rolling_distinct_count,
    )

    rows = [
        (date(2026, 1, 1 + d % 10), f"u{(d * 7) % 37}") for d in range(300)
    ]
    df = spark.createDataFrame(rows, ["day", "user_id"])
    exact = {
        r.day: r.rolling3d_user_ids
        for r in rolling_distinct_count(
            df, "day", "user_id", window_days=3
        ).collect()
    }
    approx = {
        r.day: r.rolling3d_user_ids
        for r in rolling_distinct_count(
            df, "day", "user_id", window_days=3, impl="hll"
        ).collect()
    }
    assert set(exact) == set(approx)
    for day, n in exact.items():
        assert abs(approx[day] - n) <= max(1, 0.05 * n), (day, n, approx[day])


def test_pair_scores_gemm_adversarial_parity(spark):
    """Seeded adversarial parity for the BLAS pair kernel vs the
    interpreted expr pair stage: mixed magnitude scales (1e-3..1e3),
    zero vectors, negatives, and decimal-rounded values — the inputs
    most likely to expose a numpy-vs-Spark rounding or summation-
    order divergence. (A 4000-vector run of this generator produced
    1.19M pairs with zero mismatches; this keeps a 600-vector slice
    in the suite.)"""
    import numpy as np
    from poet_cloud_cost_etl_spark.operators.similarity import (
        _bucket_pair_scores_gemm,
        _centroid_buckets,
        cosine,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(600):
        v = rng.normal(size=16) * (10.0 ** rng.integers(-3, 4))
        if i % 97 == 0:
            v[:] = 0.0
        if i % 13 == 0:
            v = np.round(v, 1)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    assigned = _centroid_buckets(df, "vec_id", "embedding", 8).select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        "centroid_id",
    )
    g = {
        (r.id_a, r.id_b): r.cos_e6
        for r in _bucket_pair_scores_gemm(
            assigned, "centroid_id", "__id", "__v"
        ).collect()
    }
    a = assigned.select(
        "centroid_id", F.col("__id").alias("ia"), F.col("__v").alias("va")
    )
    b = assigned.select(
        "centroid_id", F.col("__id").alias("ib"), F.col("__v").alias("vb")
    )
    e = {
        (r.ia, r.ib): r.c
        for r in a.join(b, "centroid_id")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            (F.round(F.round(cosine("va", "vb"), 6) * 1_000_000))
            .cast("long")
            .alias("c"),
        )
        .collect()
    }
    assert g == e and len(e) > 10_000


def test_semantic_dedup_gemm_zero_vector_threshold_parity(spark, monkeypatch):
    """A zero-norm vector has NULL cosine to every mate; the expr
    path's NULL comparison never marks it a duplicate at ANY
    threshold — the gemm kernel must agree (the earlier
    pre-normalized form mapped zero vectors to cos 0, flipping
    is_dup vs expr whenever threshold <= 0)."""
    from poet_cloud_cost_etl_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [0.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [-1.0, 0.0]),
        (4, [0.0, 0.0]),
        (5, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for thr in (-1.0, 0.0, 0.95):
        e, g = _all_expr_vs_all_gemm(
            monkeypatch,
            lambda: {
                r.vec_id: r.is_dup
                for r in semantic_dedup(
                    df, "vec_id", "embedding", n_centroids=1, threshold=thr
                ).collect()
            },
        )
        assert e == g, (thr, e, g)
        assert e[1] is False and e[4] is False, (thr, e)