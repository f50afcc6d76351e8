"""S1-S5: parquet scan family (SURVEY §2.1).

The reference's scan stack is DuckDB ``read_parquet`` with glob +
``union_by_name`` + month-partition URI construction + LIMIT/OFFSET
chunking (``/root/reference/src/sources/aws_cur.py:60-240``). The
Spark re-expression:

- S1 glob/recursive scan with schema merge → one ``spark.read``
- S2 partition-directory pruning → Hive-style ``year=/month=`` layout
  + a plain filter; Catalyst's PartitionPruning never lists
  non-matching directories (verified in tests/test_plans.py)
- S3 existence/count probes → ``inputFiles()`` / ``isEmpty()``
- S4 LIMIT/OFFSET chunking → **obsolete** under distributed execution
  (that loop is O(n²) rescan in the reference); bounded-memory egress
  is ``toLocalIterator()``
- S5 whole-source materialize → the DataFrame itself, lazily
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet_glob(
    spark: SparkSession,
    path: str,
    merge_schema: bool = True,
    recursive: bool = True,
) -> DataFrame:
    """S1: recursive glob scan, schemas merged by name across files
    (union_by_name parity, aws_cur.py:152)."""
    return (
        spark.read.option("mergeSchema", str(merge_schema).lower())
        .option("recursiveFileLookup", str(recursive).lower())
        .parquet(path)
    )


def read_month_partitions(
    spark: SparkSession, root: str, partitions: list[tuple[int, int]]
) -> DataFrame:
    """S2: read only the given (year, month) partitions of a
    Hive-layout table. The filter compiles to partition pruning — the
    directory listing itself is restricted, the exact effect of the
    reference's per-partition URI construction (aws_cur.py:64-66)."""
    df = spark.read.parquet(root)
    cond = None
    for y, m in partitions:
        c = (F.col("year") == y) & (F.col("month") == m)
        cond = c if cond is None else (cond | c)
    return df.filter(cond) if cond is not None else df
