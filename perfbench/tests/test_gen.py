"""The generators are a pure function of the seed."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import gen


def _digest(path):
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_fixture_tables_same_seed_same_bytes(tmp_path):
    a = gen.write_fixture_tables(str(tmp_path / "a"), seed=3, scale=0.2)
    b = gen.write_fixture_tables(str(tmp_path / "b"), seed=3, scale=0.2)
    c = gen.write_fixture_tables(str(tmp_path / "c"), seed=4, scale=0.2)
    assert a == b and sorted(a) == sorted(gen.BASE_ROWS)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_cur_snapshots_deterministic_and_distinct(tmp_path):
    s1 = gen.CurGenerator(str(tmp_path / "x"), seed=9, rows_per_path=600).snapshot(0)
    s2 = gen.CurGenerator(str(tmp_path / "y"), seed=9, rows_per_path=600).snapshot(0)
    s3 = gen.CurGenerator(str(tmp_path / "y"), seed=9, rows_per_path=600).snapshot(1)
    assert _digest(s1.root) == _digest(s2.root)
    assert s1.totals_cents == s2.totals_cents and s1.rows == s2.rows
    assert _digest(s1.root) != _digest(s3.root)
    assert s1.totals_cents != s3.totals_cents


def test_cur_layout_drift_and_totals(tmp_path):
    snap = gen.CurGenerator(str(tmp_path), seed=1, rows_per_path=900).snapshot(0)
    assert snap.rows == {"cur_current": 900, "cur_legacy": 900}
    for source, legacy in gen.CUR_SOURCES.items():
        months = sorted(os.listdir(os.path.join(snap.paths[source], "year=2025")))
        assert months == ["month=11", "month=12"]
        cols = gen.cur_columns(bool(legacy))
        assert len(cols) == gen.CUR_WIDTH == len(set(cols))
        cost_col = gen.CUR_KEY_COLUMNS["cost"][legacy]
        acct_col = gen.CUR_KEY_COLUMNS["account_id"][legacy]
        total = 0
        for y, m in gen.CUR_MONTHS:
            t = pq.read_table(
                os.path.join(snap.paths[source], f"year={y}", f"month={m}", "part-00000.parquet")
            )
            assert t.column_names == cols
            cents = np.round(np.asarray(t.column(cost_col).to_pylist(), dtype=float) * 100)
            total += int(cents.sum())
            accts = set(t.column(acct_col).to_pylist())
            assert accts <= set(gen.CUR_ACCOUNTS)
        want = sum(v for (s, *_), v in snap.totals_cents.items() if s == source)
        assert total == want
