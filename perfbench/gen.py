"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed``: the same seed writes
byte-identical parquet files and returns identical totals, so two runs
with one seed see the same inputs and a new seed gives new ones.  The
engine itself never sees a seed, only the files.

Two families:

- ``write_fixture_tables``: the ten fixture tables the query registry
  reads (TPC-H-like star schema, ``events``, ``documents``,
  ``embeddings``), with the column names, physical types and value
  ranges the queries' date literals and filters assume.
- ``CurGenerator``: AWS Cost & Usage Report snapshots for the sync
  path: two report paths of about 100 columns in a ``year=/month=``
  layout, one with current ``line_item_*`` names and one with legacy
  ``lineItem/...`` names, plus exact per-(source, account, month)
  cost totals in cents for the correctness check.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Scale 1.0 equals the row counts of the sf0.01 fixtures in TESTDATA.md.
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EMBED_DIM = 64
_ONE_US = timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _epoch_us(dt: datetime) -> int:
    """Microseconds since the epoch of a naive UTC datetime (independent
    of the host's time zone)."""
    return (dt - datetime(1970, 1, 1)) // _ONE_US


def _timestamps(rng, n: int, start: datetime, days: int, whole_days: bool) -> pa.Array:
    base = _epoch_us(start)
    if whole_days:
        us = rng.integers(0, days, n) * 86_400_000_000
    else:
        us = rng.integers(0, days * 86_400_000_000, n)
    return pa.array(base + us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """Two-decimal values drawn as integer cents, so they round-trip
    exactly through the engines' integer-cents sums."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng, n: int) -> list[str]:
    docs: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            # near duplicate of an earlier document: a few words edited
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        docs.append(" ".join(words))
    return docs


def _embeddings(rng, n: int, labels: np.ndarray) -> np.ndarray:
    centroids = rng.standard_normal((10, EMBED_DIM))
    vecs = rng.standard_normal((n, EMBED_DIM)) + 0.6 * centroids[labels]
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vecs[dup] = vecs[src[dup]] + 0.05 * rng.standard_normal((int(dup.sum()), EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def fixture_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = {k: max(int(v * scale), 1) for k, v in BASE_ROWS.items()}
    n["region"], n["nation"] = 5, 25
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), i64),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _timestamps(rng, no, datetime(1995, 1, 1), 2404, True),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _timestamps(rng, nl, datetime(1995, 1, 2), 2498, True),
        }
    )
    ne = n["events"]
    ts = np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne) + _epoch_us(datetime(2024, 1, 1))
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(nc // 10, 10), ne), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    docs = _documents(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": docs,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(d) for d in docs], i64),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    vecs = _embeddings(rng, nv, labels)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_fixture_tables(out_dir: str, seed: int, scale: float) -> dict[str, dict[str, int]]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table;
    returns rows and bytes per table."""
    stats = {}
    for name, tbl in fixture_tables(seed, scale).items():
        size = _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
        stats[name] = {"rows": tbl.num_rows, "bytes": size}
    return stats


# --------------------------------------------------------------------------
# AWS CUR snapshots
# --------------------------------------------------------------------------

# (current name, legacy name) for the columns normalize resolves.
CUR_KEY_COLUMNS = {
    "date": ("line_item_usage_start_date", "lineItem/UsageStartDate"),
    "account_id": ("line_item_usage_account_id", "lineItem/UsageAccountId"),
    "service": ("product_servicename", "product/ProductName"),
    "region": ("product_region", "product/location"),
    "cost": ("line_item_unblended_cost", "lineItem/UnblendedCost"),
    "currency": ("line_item_currency_code", "lineItem/CurrencyCode"),
}
# Further real CUR columns; the rest up to CUR_WIDTH are product
# attribute and resource tag columns.
CUR_OTHER_COLUMNS = [
    ("identity_line_item_id", "identity/LineItemId"),
    ("identity_time_interval", "identity/TimeInterval"),
    ("bill_invoice_id", "bill/InvoiceId"),
    ("bill_billing_entity", "bill/BillingEntity"),
    ("bill_bill_type", "bill/BillType"),
    ("bill_payer_account_id", "bill/PayerAccountId"),
    ("line_item_line_item_type", "lineItem/LineItemType"),
    ("line_item_usage_end_date", "lineItem/UsageEndDate"),
    ("line_item_product_code", "lineItem/ProductCode"),
    ("line_item_usage_type", "lineItem/UsageType"),
    ("line_item_operation", "lineItem/Operation"),
    ("line_item_availability_zone", "lineItem/AvailabilityZone"),
    ("line_item_resource_id", "lineItem/ResourceId"),
    ("line_item_usage_amount", "lineItem/UsageAmount"),
    ("line_item_normalization_factor", "lineItem/NormalizationFactor"),
    ("line_item_unblended_rate", "lineItem/UnblendedRate"),
    ("line_item_blended_rate", "lineItem/BlendedRate"),
    ("line_item_blended_cost", "lineItem/BlendedCost"),
    ("line_item_line_item_description", "lineItem/LineItemDescription"),
    ("line_item_tax_type", "lineItem/TaxType"),
    ("pricing_term", "pricing/term"),
    ("pricing_unit", "pricing/unit"),
    ("pricing_public_on_demand_cost", "pricing/publicOnDemandCost"),
    ("pricing_public_on_demand_rate", "pricing/publicOnDemandRate"),
    ("product_instance_type", "product/instanceType"),
    ("product_operating_system", "product/operatingSystem"),
    ("product_tenancy", "product/tenancy"),
    ("product_vcpu", "product/vcpu"),
    ("product_memory", "product/memory"),
    ("product_storage", "product/storage"),
    ("product_family", "product/productFamily"),
    ("product_sku", "product/sku"),
    ("reservation_reservation_a_r_n", "reservation/ReservationARN"),
    ("reservation_effective_cost", "reservation/EffectiveCost"),
    ("savings_plan_savings_plan_a_r_n", "savingsPlan/SavingsPlanARN"),
    ("savings_plan_savings_plan_effective_cost", "savingsPlan/SavingsPlanEffectiveCost"),
]
CUR_WIDTH = 100
CUR_MONTHS = [(2025, 11), (2025, 12), (2026, 1)]
CUR_SERVICES = [
    "AmazonEC2", "AmazonS3", "AmazonRDS", "AWSLambda", "AmazonDynamoDB",
    "AmazonCloudWatch", "AmazonVPC", "AmazonEKS", "AmazonSageMaker", "AWSGlue",
    "AmazonRedshift", "AmazonECR", "AmazonSNS", "AmazonSQS", "AWSDataTransfer",
]
CUR_REGIONS = [
    "us-east-1", "us-east-2", "us-west-2", "eu-west-1", "eu-central-1",
    "ap-southeast-1", "ap-northeast-1", "sa-east-1",
]
CUR_ACCOUNTS = [f"{100000000000 + 7919 * i:012d}" for i in range(24)]
CUR_SOURCES = {"cur_current": 0, "cur_legacy": 1}  # value: 1 = legacy names


def cur_columns(legacy: bool) -> list[str]:
    """The ~100 physical column names of one report path."""
    pick = 1 if legacy else 0
    cols = [pair[pick] for pair in CUR_KEY_COLUMNS.values()]
    cols += [pair[pick] for pair in CUR_OTHER_COLUMNS]
    i = 0
    while len(cols) < CUR_WIDTH:
        if i % 2 == 0:
            cols.append(f"product/attr{i:02d}" if legacy else f"product_attr{i:02d}")
        else:
            cols.append(f"resourceTags/user:tag{i:02d}" if legacy else f"resource_tags_user_tag{i:02d}")
        i += 1
    return cols


def _dict_strings(rng, n: int, values: list[str]) -> pa.Array:
    idx = pa.array(rng.integers(0, len(values), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


@dataclass
class Snapshot:
    root: str
    paths: dict[str, str] = field(default_factory=dict)  # source -> path root
    rows: dict[str, int] = field(default_factory=dict)
    bytes: int = 0
    # (source, account_id, year, month) -> total unblended cost in cents
    totals_cents: dict[tuple[str, str, int, int], int] = field(default_factory=dict)


class CurGenerator:
    """Writes distinct CUR snapshots under ``root``; snapshot ``k`` of
    seed ``s`` is always the same bytes."""

    def __init__(self, root: str, seed: int, rows_per_path: int):
        self.root = root
        self.seed = seed
        self.rows_per_path = rows_per_path

    def snapshot(self, k: int) -> Snapshot:
        snap = Snapshot(os.path.join(self.root, f"snap_{k:03d}"))
        for source, legacy in CUR_SOURCES.items():
            rng = np.random.default_rng([self.seed, 2, k, legacy])
            path = os.path.join(snap.root, source)
            snap.paths[source] = path
            snap.rows[source] = 0
            per_month = np.bincount(
                rng.integers(0, len(CUR_MONTHS), self.rows_per_path), minlength=len(CUR_MONTHS)
            )
            for (year, month), n in zip(CUR_MONTHS, per_month):
                tbl, totals = self._month(rng, int(n), year, month, bool(legacy))
                for acct, cents in totals.items():
                    key = (source, acct, year, month)
                    snap.totals_cents[key] = snap.totals_cents.get(key, 0) + cents
                f = os.path.join(path, f"year={year}", f"month={month}", "part-00000.parquet")
                snap.bytes += _write(tbl, f)
                snap.rows[source] += int(n)
        return snap

    def _month(self, rng, n: int, year: int, month: int, legacy: bool):
        cols = cur_columns(legacy)
        start = datetime(year, month, 1)
        nxt = datetime(year + month // 12, month % 12 + 1, 1)
        days = (nxt - start).days
        hours = rng.integers(0, days * 24, n)
        start_us = _epoch_us(start) + hours * 3_600_000_000
        acct_idx = rng.integers(0, len(CUR_ACCOUNTS), n)
        cents = np.floor(rng.lognormal(4.0, 1.6, n)).astype(np.int64)
        data: dict[str, pa.Array] = {}
        names = dict(zip(CUR_KEY_COLUMNS, cols[: len(CUR_KEY_COLUMNS)]))
        if legacy:
            # legacy exports carry dates and money as text
            stamp = np.datetime_as_string(start_us.astype("datetime64[us]"), unit="s")
            data[names["date"]] = pa.array(np.char.replace(stamp, "T", " "))
            data[names["cost"]] = pa.array([f"{c // 100}.{c % 100:02d}" for c in cents])
        else:
            data[names["date"]] = pa.array(start_us, pa.timestamp("us"))
            data[names["cost"]] = pa.array(cents / 100.0)
        data[names["account_id"]] = pa.array(np.array(CUR_ACCOUNTS)[acct_idx])
        data[names["service"]] = _dict_strings(rng, n, CUR_SERVICES)
        data[names["region"]] = _dict_strings(rng, n, CUR_REGIONS)
        data[names["currency"]] = pa.array(["USD"] * n)
        for i, c in enumerate(cols[len(CUR_KEY_COLUMNS):]):
            if i % 5 == 0:
                data[c] = pa.array(np.round(rng.random(n) * 100.0, 4))
            elif i % 5 == 1:
                data[c] = pa.array(rng.integers(0, 1_000_000, n))
            else:
                data[c] = _dict_strings(rng, n, [f"{c[-6:]}-v{j}" for j in range(1 + i % 40)])
        totals = np.zeros(len(CUR_ACCOUNTS), np.int64)
        np.add.at(totals, acct_idx, cents)
        by_acct = {CUR_ACCOUNTS[a]: int(totals[a]) for a in np.unique(acct_idx)}
        return pa.table({c: data[c] for c in cols}), by_acct


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, f))
            files += 1
    return total, files
