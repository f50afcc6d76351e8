"""S-family sources/sinks, diagnostics (D-family), accounts registry,
and the UDF surface (§2.12) — each UDF example checked against its
native-expression twin."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from poet_cloud_cost_etl_spark.accounts import Account, AccountRegistry
from poet_cloud_cost_etl_spark.catalog import table
from poet_cloud_cost_etl_spark.diagnostics import (
    list_accounts,
    path_to_table_name,
)
from poet_cloud_cost_etl_spark.diagnostics import test_connection as probe_connection
from poet_cloud_cost_etl_spark.diagnostics import test_storage as probe_storage
from poet_cloud_cost_etl_spark.functions.udfs import (
    canon_name_vec,
    weighted_avg_udaf,
    zscore_per_group,
)
from poet_cloud_cost_etl_spark.operators.normalize import canonical_name
from poet_cloud_cost_etl_spark.sources.parquet_source import read_parquet_glob
from poet_cloud_cost_etl_spark.sources.sinks import (
    create_view,
    ensure_namespace,
    run_sql_script,
)

from tests.conftest import SF_SMALL


# ---- S-family ----


def test_parquet_glob_scan(spark):
    df = read_parquet_glob(spark, os.path.join(SF_SMALL, "lineitem.parquet"))
    assert df.count() == 6000
    assert len(df.inputFiles()) >= 1  # S3: file listing
    assert not df.isEmpty()  # S3: empty-input guard


def test_bounded_egress(spark):
    """S4: driver-side iteration without driver-side materialization."""
    df = table(spark, SF_SMALL, "region")
    rows = list(df.toLocalIterator())
    assert len(rows) == 5


def test_catalog_ddl(spark):
    ensure_namespace(spark, "cost_analytics")  # S9
    create_view(  # S11
        spark, "v_region_count", "SELECT count(*) AS n FROM parquet.`{}`".format(
            os.path.join(SF_SMALL, "region.parquet")
        )
    )
    assert spark.sql("SELECT n FROM v_region_count").collect()[0].n == 5
    run_sql_script(  # S10
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW v_a AS SELECT 1 AS x;"
        "CREATE OR REPLACE TEMPORARY VIEW v_b AS SELECT x + 1 AS y FROM v_a;",
    )
    assert spark.sql("SELECT y FROM v_b").collect()[0].y == 2


# ---- diagnostics ----


def test_diagnostics(spark):
    reg = AccountRegistry([Account("1", "a"), Account("2", "b", region="x")])
    df = list_accounts(spark, reg)
    assert df.count() == 2
    assert probe_connection(spark)["ok"] == "1"
    counts = probe_storage(
        spark, [os.path.join(SF_SMALL, "region.parquet"), "/nonexistent/xyz"]
    )
    assert counts[os.path.join(SF_SMALL, "region.parquet")] >= 1
    assert counts["/nonexistent/xyz"] == -1


def test_path_to_table_name():
    # reference main.py:213-227 semantics
    assert path_to_table_name("cup-data/sub/path") == "cup_data"
    assert path_to_table_name("123456789012/reports") == "account_123456789012"
    assert path_to_table_name("My-Report/x") == "my_report"


def test_registry_env_scoping(monkeypatch, spark):
    default = [Account("1", "a"), Account("2", "b"), Account("3", "c")]
    monkeypatch.setenv("TEST_ACCOUNTS", "2, 3")
    reg = AccountRegistry.from_env(default)
    assert reg.account_ids() == ["2", "3"]
    assert reg.get_account_name("2") == "b"
    monkeypatch.delenv("TEST_ACCOUNTS")
    assert AccountRegistry.from_env(default).account_ids() == ["1", "2", "3"]


# ---- UDF surface (§2.12): each example vs its native twin ----


def test_vectorized_scalar_udf_matches_native(spark):
    df = spark.createDataFrame(
        [("Special/Chars:Col",), ("123starts",), ("A B-C.D",)], ["name"]
    )
    got = [r.c for r in df.select(canon_name_vec("name").alias("c")).collect()]
    want = [canonical_name(n.name) for n in df.select("name").collect()]
    assert got == want


def test_grouped_agg_udaf(spark):
    li = table(spark, SF_SMALL, "lineitem").limit(1000)
    got = (
        li.groupBy("l_returnflag")
        .agg(weighted_avg_udaf("l_extendedprice", "l_quantity").alias("wavg"))
        .collect()
    )
    native = (
        li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("wavg")
        )
        .collect()
    )
    g = {r.l_returnflag: r.wavg for r in got}
    n = {r.l_returnflag: r.wavg for r in native}
    assert g.keys() == n.keys()
    for k in g:
        assert abs(g[k] - n[k]) < 1e-6


def test_apply_in_pandas_zscore(spark):
    ev = table(spark, SF_SMALL, "events").select("user_id", "event_type", "value")
    z = zscore_per_group(ev, "event_type", "value")
    stats = (
        z.groupBy("event_type")
        .agg(F.round(F.avg("zscore"), 6).alias("mu"), F.round(F.stddev("zscore"), 2).alias("sd"))
        .collect()
    )
    for r in stats:
        assert abs(r.mu) < 1e-6
        assert abs(r.sd - 1.0) < 0.01


# ---- CSV / JSON format breadth ----


def test_csv_json_round_trip(spark, tmp_path):
    """Costs data written as CSV and JSON-lines reads back through the
    same normalize pipeline (explicit schema, PERMISSIVE mode)."""
    from poet_cloud_cost_etl_spark.sources.csv_json import read_csv, read_json_lines

    ev = table(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    ev.write.option("header", "true").csv(csv_dir)
    ev.write.json(json_dir)

    schema = "event_id bigint, event_type string, value double"
    from_csv = read_csv(spark, csv_dir, schema)
    from_json = read_json_lines(spark, json_dir, schema)
    assert from_csv.count() == from_json.count() == 1000
    a = from_csv.agg(F.sum("value")).collect()[0][0]
    b = from_json.agg(F.sum("value")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_csv_bad_rows_are_tolerated(spark, tmp_path):
    """PERMISSIVE: malformed rows become NULLs, never abort the scan —
    the engine-wide null-on-error posture (N5) applied to ingest."""
    p = tmp_path / "bad.csv"
    p.write_text("event_id,value\n1,2.5\nnot_a_number,oops\n3,4.5\n")
    from poet_cloud_cost_etl_spark.sources.csv_json import read_csv

    df = read_csv(spark, str(p), "event_id bigint, value double")
    rows = df.collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r.event_id is None) == 1


def test_register_sql_functions(spark):
    from poet_cloud_cost_etl_spark.functions.udfs import register_sql_functions

    register_sql_functions(spark)
    r = spark.sql("SELECT canon_name('Special/Chars:Col') AS c").collect()[0]
    assert r.c == "special_chars_col"
