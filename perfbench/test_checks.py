"""Tests of the benchmark's own checks: each passes on a correct output and
fails on a deliberately corrupted one. No Spark session is started.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
import gen  # noqa: E402
from checks import CheckFailed  # noqa: E402

TYPES = gen.EVENT_TYPES


@pytest.fixture(scope="module")
def user_tables(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("adm") / "events.parquet")
    gen.write_parquet(gen.admissions(7, 300), path)
    expected = duckdb.sql(checks.user_table_sql(path, "signup", 0.56, TYPES)).df()
    return expected


def test_generators_are_seeded():
    a, b, c = gen.admissions(3, 50), gen.admissions(3, 50), gen.admissions(4, 50)
    assert a.equals(b) and not a.equals(c)
    base1, batches1 = gen.upserts(3, 100, 2, 10, 5, 8)
    base2, batches2 = gen.upserts(3, 100, 2, 10, 5, 8)
    assert base1.equals(base2)
    assert all(k1 == k2 and t1.equals(t2) for (k1, t1), (k2, t2) in zip(batches1, batches2))


def test_admissions_prevalence_near_reference(tmp_path):
    path = str(tmp_path / "events.parquet")
    gen.write_parquet(gen.admissions(11, 3000), path)
    t = duckdb.sql(checks.user_table_sql(path, "signup", 0.56, TYPES)).df()
    assert 0.04 < t["label"].mean() < 0.10


def test_upsert_batches_shape():
    base, batches = gen.upserts(5, 200, 4, 20, 10, 15)
    live = set(base.column("patient_id").to_pylist())
    for kind, tb in batches:
        keys = tb.column("patient_id").to_pylist()
        assert len(keys) == len(set(keys))
        if kind == "upsert":
            assert len(set(keys) & live) == 20
            live |= set(keys)
        else:
            assert set(keys) <= live and len(keys) == 15
            live -= set(keys)


def test_user_table_flipped_label(user_tables):
    checks.user_table(user_tables.copy(), user_tables)
    bad = user_tables.copy()
    bad.loc[3, "label"] = 1 - bad.loc[3, "label"]
    with pytest.raises(CheckFailed):
        checks.user_table(bad, user_tables)


def test_user_table_dropped_patient_and_bad_count(user_tables):
    with pytest.raises(CheckFailed):
        checks.user_table(user_tables.iloc[1:].copy(), user_tables)
    bad = user_tables.copy()
    bad.loc[0, "n_login"] += 1
    with pytest.raises(CheckFailed):
        checks.user_table(bad, user_tables)


def test_split():
    ids = list(range(10))
    train = [(i, i % 2) for i in range(8)]
    test = [(8, 0), (9, 1)]
    checks.split(train, test, ids)
    with pytest.raises(CheckFailed):  # a patient on both sides
        checks.split(train, test + [(0, 0)], ids)
    with pytest.raises(CheckFailed):  # a patient on neither side
        checks.split(train[1:], test, ids)
    with pytest.raises(CheckFailed):  # one class missing from the test side
        checks.split(train + [(9, 1)], [(8, 0)], ids)


def test_balance_checks():
    checks.one_to_one(200, 100, "x")
    with pytest.raises(CheckFailed):
        checks.one_to_one(201, 100, "x")
    checks.oversample_poisson(2 * 1000 + 30, 1000, 100)
    with pytest.raises(CheckFailed):
        checks.oversample_poisson(2 * 1000 + 200, 1000, 100)


def test_battery_matches_pairwise_auc():
    rng = np.random.default_rng(0)
    s = np.round(rng.random(60), 1)  # many ties
    y = (rng.random(60) < 0.4).astype(float)
    pos, neg = s[y == 1], s[y == 0]
    pairwise = np.mean([(p > n) + 0.5 * (p == n) for p in pos for n in neg])
    assert abs(checks.battery(s, y)["roc_auc"] - pairwise) < 1e-12


def test_auc_battery_shuffled_scores():
    rng = np.random.default_rng(1)
    y = (rng.random(300) < 0.3).astype(float)
    s = np.clip(0.5 * y + 0.6 * rng.random(300), 0, 1)
    row = checks.battery(s, y)
    checks.auc_battery(row, s, y, 300)
    with pytest.raises(CheckFailed):
        checks.auc_battery(row, rng.permutation(s), y, 300)
    with pytest.raises(CheckFailed):  # cells do not sum to n_test
        checks.auc_battery(row, s, y, 301)
    flipped = y.copy()
    flipped[0] = 1 - flipped[0]
    with pytest.raises(CheckFailed):
        checks.auc_battery(row, s, flipped, 300)


def test_rows_match():
    rows = [(0.9, 0.8, None, 0.1, 0.2), (0.9, 0.8, None, 0.1, 0.2), (0.7, 0.6, 0.5, 0.4, 0.3)]
    checks.rows_match(rows[::-1], rows)
    with pytest.raises(CheckFailed):
        checks.rows_match([rows[0], rows[2], (0.7, 0.6, 0.5, 0.4, 0.31)], rows)


def _replay():
    base, batches = gen.upserts(9, 50, 2, 5, 3, 4)
    state = {r["patient_id"]: tuple(r.values()) for r in base.to_pylist()}
    kind, tb = batches[0]
    rows = {r["patient_id"]: tuple(r.values()) for r in tb.to_pylist()}
    after = dict(state)
    after.update(rows)
    return state, after, rows


def test_snapshot_dropped_upserted_row():
    _before, after, rows = _replay()
    checks.snapshot(dict(after), after)
    bad = dict(after)
    bad.pop(next(iter(rows)))
    with pytest.raises(CheckFailed):
        checks.snapshot(bad, after)
    changed = dict(after)
    k = next(iter(rows))
    changed[k] = changed[k][:1] + (changed[k][1] + 1,) + changed[k][2:]
    with pytest.raises(CheckFailed):
        checks.snapshot(changed, after)


def test_feed_nets_dropped_row_and_missed_delete():
    before, after, rows = _replay()
    updated = {k for k in rows if k in before}
    checks.feed_nets(before, after, updated, rows)
    partial = dict(rows)
    partial.pop(next(iter(rows)))
    with pytest.raises(CheckFailed):
        checks.feed_nets(before, after, updated, partial)
    gone = dict(after)
    victim = next(k for k in after if k not in rows)
    gone.pop(victim)
    with pytest.raises(CheckFailed):  # the snapshot lost a row the feed never deleted
        checks.feed_nets(before, gone, updated, rows)


def test_one_version():
    checks.one_version(4, 5, "x")
    for after in (4, 6):
        with pytest.raises(CheckFailed):
            checks.one_version(4, after, "x")


def test_tally_counts():
    t = checks.Tally()
    t.run("ok", lambda: None)
    t.run("bad", checks.one_to_one, 3, 1, "x")
    assert (t.attempted, t.failed, list(t.failures)) == (2, 1, ["bad"])


def test_python_boundary_nodes():
    from tracing import python_boundary_nodes, union_length

    plan = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   MapInPandas (3)\n   +- FlatMapGroupsInPandas (2)\n\n"
        "      +- InMemoryRelation (4)\n         +- ArrowEvalPython (5)\n"
        "+- == Initial Plan ==\n   MapInPandas (8)\n   +- Exchange (7)\n\n\n"
        "(3) MapInPandas\nInput [1]: [a]\n"
    )
    assert python_boundary_nodes(plan) == 1
    assert python_boundary_nodes(plan + "\n(5) ArrowEvalPython\n(8) MapInPandas\n") == 3
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
