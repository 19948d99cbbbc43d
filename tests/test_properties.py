"""Hypothesis property tests (SURVEY §5.2): the distributed formulations
must equal their naive single-node definitions on arbitrary inputs."""

from hypothesis import HealthCheck, given, settings, strategies as st

import pyspark.sql.functions as F

from predicting_hospital_readmission_using_mimic_database_spark.ml import metrics as ME
from predicting_hospital_readmission_using_mimic_database_spark.operators import relational as R
from predicting_hospital_readmission_using_mimic_database_spark.session import local_frame

_slow = settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1)), min_size=2, max_size=40
    ).filter(lambda xs: any(y == 1 for _, y in xs) and any(y == 0 for _, y in xs))
)
def test_auc_equals_pairwise_definition(spark, data):
    """ROC-AUC (telescoped trapezoid) == Mann-Whitney pair counting with
    half-credit ties, for any score/label multiset."""
    pos = [s for s, y in data if y == 1]
    neg = [s for s, y in data if y == 0]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    want = wins / (len(pos) * len(neg))
    df = spark.createDataFrame([(float(s), y) for s, y in data], "score double, y int")
    got = ME.auc_metrics(df, "score", "y").collect()[0]["roc_auc"]
    assert abs(got - want) < 1e-6


@_slow
@given(st.lists(st.integers(-100, 100), min_size=1, max_size=60))
def test_partitioned_cumsum_equals_serial(spark, vals):
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, v int").repartition(5)
    out = {
        r["k"]: r["cum_v"]
        for r in R.partitioned_cumsum(df, ["k"], ["v"]).collect()
    }
    acc = 0
    for i, v in enumerate(vals):
        acc += v
        assert out[i] == acc


@_slow
@given(st.sets(st.integers(0, 10_000), min_size=1, max_size=80))
def test_global_index_is_a_rank(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k int").repartition(7)
    out = {r["k"]: r["pos"] for r in R.global_index(df, ["k"], out="pos").collect()}
    for rank, k in enumerate(sorted(keys), start=1):
        assert out[k] == rank


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=40,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_connected_components_equals_union_find(spark, edges):
    """Distributed hash-to-min propagation == a serial union-find on any
    edge list (self-loops and duplicate edges included)."""
    from predicting_hospital_readmission_using_mimic_database_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["id"]: r["comp"] for r in connected_components(df).collect()}
    # representative choice: hash-to-min labels with the component MINIMUM;
    # union-find may root elsewhere, so compare by canonical min per group
    import collections

    def groups(lbl):
        g = collections.defaultdict(set)
        for k, v in lbl.items():
            g[v].add(k)
        return {min(s): frozenset(s) for s in g.values()}

    assert groups(got) == groups(want)


@_slow
@given(
    st.lists(st.integers(0, 400), min_size=2, max_size=30),
    st.integers(1, 50),
)
def test_band_join_equals_nested_loop(spark, raw, band_cents):
    """Grid-bucket band join == naive theta join for arbitrary values and
    band widths, INCLUDING values sitting exactly on band multiples
    (ints scaled by 0.01 exercise the BETWEEN fp boundary)."""
    vals = [v * 0.01 for v in raw]
    band = band_cents * 0.01
    a = local_frame(spark, list(enumerate(vals)), "a_id long, a_v double")
    b = local_frame(spark, list(enumerate(vals)), "b_id long, b_v double")
    got = {
        (r["a_id"], r["b_id"])
        for r in R.band_join(a, b, "a_v", "b_v", band=band).collect()
    }
    want = {
        (r["a_id"], r["b_id"])
        for r in a.crossJoin(b)
        .filter(
            (F.col("b_v") >= F.col("a_v") - band) & (F.col("b_v") <= F.col("a_v") + band)
        )
        .collect()
    }
    assert got == want


@_slow
@given(
    st.lists(st.integers(0, 200), min_size=1, max_size=15),
    st.lists(st.integers(0, 200), min_size=0, max_size=15),
    st.integers(0, 30),
)
def test_band_join_outer_equals_nested_loop(spark, raw_a, raw_b, band_cents):
    """how='left'/'full' band join == the naive ANSI outer theta join —
    unmatched rows null-extend exactly once, multiplicity preserved,
    including band=0 (exact equality) and an empty right side."""
    band = band_cents * 0.01
    a = local_frame(
        spark, [(i, v * 0.01) for i, v in enumerate(raw_a)], "a_id long, a_v double"
    )
    b = local_frame(
        spark, [(i, v * 0.01) for i, v in enumerate(raw_b)], "b_id long, b_v double"
    )
    cond = (F.col("b_v") >= F.col("a_v") - band) & (F.col("b_v") <= F.col("a_v") + band)
    for how in ("left", "full"):
        got = sorted(
            ((r["a_id"], r["b_id"]) for r in R.band_join(
                a, b, "a_v", "b_v", band=band, how=how).collect()),
            key=lambda p: (p[0] is None, p[0] or 0, p[1] is None, p[1] or 0),
        )
        want = sorted(
            ((r["a_id"], r["b_id"]) for r in a.join(b, cond, how).collect()),
            key=lambda p: (p[0] is None, p[0] or 0, p[1] is None, p[1] or 0),
        )
        assert got == want, (how, band)


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 100)),
        min_size=1, max_size=30, unique_by=lambda t: t[0],
    ),
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 100)),
        min_size=0, max_size=15, unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_equals_dict_semantics(spark, base_rows, upd_rows):
    """merge_upsert == plain dict update for arbitrary key sets."""
    base = spark.createDataFrame(base_rows or [(0, 0)], "k long, v long")
    upd = spark.createDataFrame(upd_rows, "k long, v long") if upd_rows else base.limit(0)
    want = dict(base_rows or [(0, 0)])
    want.update(dict(upd_rows))
    got = {r["k"]: r["v"] for r in R.merge_upsert(base, upd, "k").collect()}
    assert got == want


@_slow
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 3)),
        min_size=2, max_size=40, unique_by=lambda t: t[0],
    )
)
def test_stratified_hash_split_partitions_input(spark, rows):
    """train + test partition the input exactly (no loss, no dups) and
    every class with >= 2 rows appears on both sides."""
    from collections import Counter

    from predicting_hospital_readmission_using_mimic_database_spark.operators import sampling as SA2

    df = spark.createDataFrame(rows, "user_id long, y int")
    train, test = SA2.stratified_hash_split(df, "y", "user_id", 0.3)
    tr = [(r["user_id"], r["y"]) for r in train.collect()]
    te = [(r["user_id"], r["y"]) for r in test.collect()]
    assert sorted(tr + te) == sorted(rows)
    assert not (set(tr) & set(te))
    counts = Counter(y for _, y in rows)
    tr_classes = {y for _, y in tr}
    te_classes = {y for _, y in te}
    for y, n in counts.items():
        if n >= 2:
            assert y in tr_classes and y in te_classes


@_slow
@given(
    st.lists(st.text(alphabet="ab", min_size=0, max_size=6), min_size=1, max_size=12),
    st.integers(1, 2),
)
def test_fuzzy_join_equals_nested_loop(spark, strings, k):
    """Deletion-neighborhood blocking (FastSS) finds EXACTLY the pairs the
    naive all-pairs levenshtein predicate admits — on a tiny 'ab' alphabet
    where near-collisions, empties, and duplicates-as-variants are dense."""
    left = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "a_id long, a_s string"
    )
    right = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "b_id long, b_s string"
    )
    got = sorted(
        (r["a_id"], r["b_id"], r["dist"])
        for r in R.fuzzy_join(left, right, "a_s", "b_s", max_dist=k).collect()
    )
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.product(enumerate(strings), repeat=2)
        if lev(a, b) <= k
    )
    assert got == want


@_slow
@given(
    st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=30),
    st.integers(0, 5),
)
def test_rolling_median_equals_serial(spark, vals, prec):
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "o int, v double").withColumn("g", F.lit(1))
    out = {
        r["o"]: r["m"]
        for r in R.rolling_median(df, "v", ["g"], ["o"], preceding=prec, out="m").collect()
    }
    import statistics

    for i in range(len(vals)):
        frame = sorted(vals[max(0, i - prec): i + 1])
        assert abs(out[i] - statistics.median(frame)) < 1e-9


@_slow
@given(
    st.lists(st.tuples(st.floats(0, 50, allow_nan=False),
                       st.floats(0, 12, allow_nan=False)),
             min_size=0, max_size=25),
    st.lists(st.floats(0, 60, allow_nan=False), min_size=0, max_size=25),
)
def test_interval_join_equals_nested_loop_property(spark, iv_raw, pts_raw):
    iv = spark.createDataFrame(
        [(i, s, s + w) for i, (s, w) in enumerate(iv_raw)] or [(0, 1.0, 0.0)],
        "iid long, s double, e double",
    )
    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts_raw)] or [(0, -1.0)],
        "pid long, d double",
    )
    got = sorted(
        (r["iid"], r["pid"])
        for r in R.interval_join(pts, iv, "d", "s", "e", cell_width=5.0).collect()
    )
    want = sorted(
        (i, j)
        for i, (s, w) in enumerate(iv_raw or [(1.0, -1.0)])
        for j, p in enumerate(pts_raw or [-1.0])
        if s <= p < s + w
    )
    assert got == want


# --- SnapshotTable: random op sequences vs an in-memory model ---------

_op = st.one_of(
    st.tuples(st.just("append"), st.integers(0, 3), st.integers(1, 12)),
    st.tuples(st.just("merge"), st.integers(0, 40), st.integers(1, 5)),
    st.tuples(st.just("delete"), st.integers(0, 50), st.just(0)),
    st.tuples(st.just("compact"), st.just(0), st.just(0)),
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_op, min_size=1, max_size=5), st.integers(0, 10_000))
def test_snapshot_table_matches_model(spark, tmp_path_factory, ops, salt):
    """ANY sequence of append/merge/delete/compact must leave the table —
    and EVERY historical version — equal to a plain dict model applying
    the same semantics. Catches commit/replay/bucket-pruning bugs the
    hand-written cases don't reach."""
    from pyspark.sql import Row

    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import SnapshotTable

    root = str(tmp_path_factory.mktemp("prop") / f"t{salt}")
    t = SnapshotTable.create(
        spark, root, "k bigint, v double", bucket_key=["k"], num_buckets=4,
        checkpoint_interval=3,
    )
    model: dict[int, float] = {}
    history = [dict(model)]  # model state at each committed version
    next_k = salt
    for kind, a, b in ops:
        if kind == "append":
            rows = [(next_k + j, float(a + j)) for j in range(b)]
            next_k += b
            t.append(spark.createDataFrame(rows, "k bigint, v double"))
            model.update(rows)
        elif kind == "merge":
            keys = sorted(model)[:: max(1, a)][:b] or [next_k]
            next_k += 1
            rows = [(k, -float(k)) for k in keys]
            t.merge(spark.createDataFrame(rows, "k bigint, v double"))
            model.update(rows)
        elif kind == "delete":
            t.delete(F.col("k") % 50 == a)
            model = {k: v for k, v in model.items() if k % 50 != a}
        else:
            t.compact()
        history.append(dict(model))
    assert {(r["k"], r["v"]) for r in t.read().collect()} == set(model.items())
    # every historical version replays to its model state
    for v, state in enumerate(history):
        got = {(r["k"], r["v"]) for r in t.read(version=v).collect()}
        assert got == set(state.items()), f"version {v}"
    # CDC closure: the empty v0 plus the whole change feed reconstructs
    # the final state exactly (multiset: inserts minus deletes)
    from collections import Counter

    feed = Counter()
    for r in t.read_changes(0).collect():
        feed[(r["k"], r["v"])] += 1 if r["_change_type"] == "insert" else -1
    assert {kv for kv, c in feed.items() if c > 0} == set(model.items())
    assert all(c in (0, 1) for c in feed.values())
