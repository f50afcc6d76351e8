"""pyspark.ml LSH variants (SURVEY §2.11 X2/X4 'scale path'): MinHashLSH
for Jaccard near-dups and BucketedRandomProjectionLSH for vectors.
Engine-specific hashes → no SQL oracle; instead we check RECALL against
the exact operators that *are* oracle-checked."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.operators.dedup import doc_shingles, ngram_jaccard_pairs

from tests.conftest import SF_MEDIUM


def test_minhash_lsh_ml_recall(spark):
    """ml.MinHashLSH must recover the high-Jaccard pairs found by the
    exact (oracle-checked) n-gram Jaccard operator."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    d = table(spark, SF_MEDIUM, "documents")
    sh = doc_shingles(d, "doc_id", "text")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(sh, "doc_id", threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"

    docs = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True, minDF=1.0
    ).fit(docs)
    feats = cv.transform(docs)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    # jaccard distance 0.5 == jaccard similarity 0.5
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="dist").filter(
        F.col("datasetA.doc_id") < F.col("datasetB.doc_id")
    )
    found = {
        (r["datasetA"]["doc_id"], r["datasetB"]["doc_id"]) for r in pairs.collect()
    }
    recall = len(exact & found) / len(exact)
    assert recall >= 0.9, (recall, exact - found)


def test_brp_lsh_ml_neighbors(spark):
    """BucketedRandomProjectionLSH approxNearestNeighbors returns sane
    euclidean neighbors (deterministic under fixed seed)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT

    e = table(spark, SF_MEDIUM, "embeddings")
    to_vec = F.udf(lambda a: Vectors.dense(a), VectorUDT())
    feats = e.select("vec_id", to_vec("embedding").alias("features"))
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, seed=42,
        numHashTables=4,
    )
    model = brp.fit(feats)
    key = feats.filter(F.col("vec_id") == 0).collect()[0].features
    nn = model.approxNearestNeighbors(feats, key, 5).collect()
    assert len(nn) == 5
    assert nn[0].vec_id == 0 and abs(nn[0].distCol) < 1e-9  # itself first
    dists = [r.distCol for r in nn]
    assert dists == sorted(dists)
