"""r14: scale-adaptive compute spreading (catalog.spread_small_scan).

The optimization parallelizes heavy scan-stage per-row compute when
the input is a small single-split scan, and MUST be a no-op both at
scale (estimated splits ≥ parallelism) and on frames the estimate
cannot vouch for (derived frames lose the table() stamp).  These
tests pin the decision logic and the determinism claim the operators
rely on (round-robin repartition + partition-invariant consumers).
"""

from __future__ import annotations

from conftest import SF_SMALL

from poet_cloud_cost_etl_spark.catalog import spread_small_scan, table


def test_table_stamps_split_estimate(spark):
    d = table(spark, SF_SMALL, "documents")
    est = getattr(d, "_sg_scan_est_splits", None)
    assert est == 1  # sub-128MB single file -> one estimated split


def test_spread_repartitions_small_stamped_scan(spark):
    d = table(spark, SF_SMALL, "documents")
    out = spread_small_scan(d)
    assert out is not d
    p = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == p
    # row set unchanged
    assert out.count() == d.count()


def test_spread_noop_without_stamp(spark):
    d = table(spark, SF_SMALL, "documents").select("doc_id")
    # derived frame: the stamp does not propagate -> conservative no-op
    assert spread_small_scan(d) is d


def test_spread_noop_at_scale_estimate(spark):
    d = table(spark, SF_SMALL, "documents")
    p = spark.sparkContext.defaultParallelism
    assert spread_small_scan(d, current_partitions=p) is d
    assert spread_small_scan(d, current_partitions=p + 7) is d


def test_spread_preserves_results_through_heavy_chain(spark):
    """The dedup pair core must produce the identical pair set with
    and without the spread (partition invariance of the operators)."""
    from pyspark.sql import functions as F

    from poet_cloud_cost_etl_spark.operators.dedup import (
        _jaccard_core,
        shingles,
        tokens,
    )

    d = table(spark, SF_SMALL, "documents")

    def pairs(frame):
        arrs = (
            frame.select(F.col("doc_id"), tokens("text").alias("__t"))
            .select(
                F.col("doc_id"),
                F.array_distinct(shingles("__t")).alias("__sh"),
            )
            .filter(F.size("__sh") > 0)
        )
        sh_n = arrs.select(
            F.col("doc_id"),
            F.size("__sh").cast("long").alias("n_sh"),
            F.explode("__sh").alias("shingle"),
        )
        return sorted(
            tuple(r) for r in _jaccard_core(
                sh_n, "doc_id", 0.5, None
            ).collect()
        )

    assert pairs(d) == pairs(spread_small_scan(d))


# ---------------------------------------------------------------------------
# r15: directory-layout parquet (VERDICT r14 item 1) + the three
# ADVICE r14 catalog hardenings.
# ---------------------------------------------------------------------------


def _write_dir_table(spark, tmp_path, n_rows=2000, n_parts=6):
    """A directory-layout parquet table (the normal layout of any
    real multi-file table) under tmp_path/documents.parquet."""
    import shutil

    src = table(spark, SF_SMALL, "documents")
    dst = str(tmp_path / "documents.parquet")
    shutil.rmtree(dst, ignore_errors=True)
    src.repartition(n_parts).write.mode("overwrite").parquet(dst)
    return str(tmp_path)


def test_dir_layout_estimate_sums_part_files(spark, tmp_path):
    """os.path.getsize on a parquet DIRECTORY reads the ~4KB dirent;
    the estimate must instead sum the part files — pinned by
    recomputing the expected ceil((bytes + open_cost*files)/max_split)
    from the files on disk."""
    import os

    from poet_cloud_cost_etl_spark.catalog import (
        _input_bytes_and_files,
        _parse_spark_bytes,
    )

    sf_dir = _write_dir_table(spark, tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    n_bytes, n_files = _input_bytes_and_files(path)
    # the part files are real data, far bigger than the ~4KB dirent
    assert n_files >= 2
    assert n_bytes > 64 * 1024
    d = table(spark, sf_dir, "documents")
    max_split = _parse_spark_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    open_cost = _parse_spark_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    want = max(1, -(-(n_bytes + open_cost * n_files) // max_split))
    assert d.__dict__.get("_sg_scan_est_splits") == want


def test_dir_layout_spread_noop_at_scale(spark, tmp_path):
    """A directory-layout table whose estimated splits reach cluster
    parallelism must NOT be spread (the 100TB no-op claim, now tested
    on the layout that matters)."""
    sf_dir = _write_dir_table(spark, tmp_path)
    d = table(spark, sf_dir, "documents")
    p = spark.sparkContext.defaultParallelism
    # force the estimate to "at scale" by shrinking the split size so
    # the summed part bytes + open cost cover >= parallelism splits
    d.__dict__["_sg_scan_est_splits"] = p
    assert spread_small_scan(d) is d
    d.__dict__["_sg_scan_est_splits"] = p - 1
    assert spread_small_scan(d) is not d


def test_parse_spark_bytes_suffixes():
    from poet_cloud_cost_etl_spark.catalog import _parse_spark_bytes

    assert _parse_spark_bytes("134217728") == 128 * 1024 * 1024
    assert _parse_spark_bytes("134217728b") == 128 * 1024 * 1024
    assert _parse_spark_bytes("128m") == 128 * 1024 * 1024
    assert _parse_spark_bytes("128MB") == 128 * 1024 * 1024
    assert _parse_spark_bytes("1g") == 1024 ** 3
    assert _parse_spark_bytes("512k") == 512 * 1024
    assert _parse_spark_bytes(" 64m ") == 64 * 1024 * 1024
    assert _parse_spark_bytes("1p") == 1024 ** 5
    assert _parse_spark_bytes("2pb") == 2 * 1024 ** 5


def test_suffixed_max_partition_bytes_feeds_estimate(spark, tmp_path):
    """A k/m/g-suffixed maxPartitionBytes must flow into the stamp
    instead of silently falling back to 128MB (ADVICE r14)."""
    sf_dir = _write_dir_table(spark, tmp_path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64k")
        d = table(spark, sf_dir, "documents")
        est = d.__dict__.get("_sg_scan_est_splits")
        # tiny split size -> many estimated splits (not the 1-2 the
        # silent 128MB fallback would produce)
        assert est > 4
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_non_positive_max_partition_bytes_is_rejected(spark):
    """A zero maxPartitionBytes used to crash the split estimate with
    ZeroDivisionError; a negative one read the table as 0 rows.  Both
    must fail in table() with an error naming the conf."""
    import pytest

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for bad in ("0", "-1"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", bad)
            with pytest.raises(
                ValueError,
                match=f"spark.sql.files.maxPartitionBytes.*'{bad}'",
            ):
                table(spark, SF_SMALL, "orders")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_column_named_like_stamp_cannot_shadow(spark):
    """A frame with a column literally named _sg_scan_est_splits must
    not leak a Column into the spread decision (ADVICE r14)."""
    from pyspark.sql import functions as F

    d = (
        table(spark, SF_SMALL, "documents")
        .select("doc_id")
        .withColumn("_sg_scan_est_splits", F.lit(0))
    )
    # no instance stamp -> conservative no-op, never a Column compare
    assert spread_small_scan(d) is d
