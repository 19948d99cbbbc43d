"""ML + metrics unit tests: exact-value fixtures for AUC/MI, MLlib parity
for chi², invariants for estimators."""

import math

import pyspark.sql.functions as F

from predicting_hospital_readmission_using_mimic_database_spark.ml import metrics as ME
from predicting_hospital_readmission_using_mimic_database_spark.ml import models as MO


def test_auc_matches_hand_computed(spark):
    # scores: pos at 0.9/0.7/0.3, neg at 0.8/0.2/0.1
    # pairs (pos > neg): 0.9>all(3), 0.7>{0.2,0.1}=2, 0.3>{0.2,0.1}=2 -> 7/9
    rows = [(0.9, 1), (0.7, 1), (0.3, 1), (0.8, 0), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = ME.auc_metrics(df, "score", "y").collect()[0]
    assert abs(out["roc_auc"] - 7 / 9) < 1e-6


def test_auc_ties_averaged(spark):
    # one pos and one neg share score 0.5 -> tie counts half (Mann-Whitney)
    rows = [(0.5, 1), (0.5, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = ME.auc_metrics(df, "score", "y").collect()[0]
    assert abs(out["roc_auc"] - 0.5) < 1e-6


def test_binary_metrics_cells(spark):
    rows = [(0.9, 1), (0.8, 0), (0.4, 1), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = ME.binary_metrics(df, "score", "y", 0.5).collect()[0]
    assert (out["tp"], out["fp"], out["fn"], out["tn"]) == (1, 1, 1, 1)
    assert out["accuracy"] == 0.5 and out["recall"] == 0.5


def test_roc_points_monotone(spark):
    rows = [(float(i) / 10, i % 2) for i in range(10)]
    df = spark.createDataFrame(rows, "score double, y int")
    pts = ME.roc_points(df, "score", "y").orderBy("fpr", "tpr").collect()
    fprs = [r["fpr"] for r in pts]
    tprs = [r["tpr"] for r in pts]
    assert fprs == sorted(fprs) and tprs == sorted(tprs)
    assert pts[-1]["fpr"] == 1.0 and pts[-1]["tpr"] == 1.0


def test_m5_grid_reference_shape():
    """Smoke sf demonstrates the reference's exact 9-fit sweep
    (numTrees 100..900 step 100, py:608-618); larger sfs scale down."""
    from predicting_hospital_readmission_using_mimic_database_spark.qdefs_ml import m5_grid

    assert m5_grid("/root/testdata/sf0.001") == list(range(100, 1000, 100))
    assert m5_grid("/root/testdata/sf0.01") == [100, 300, 500, 700, 900]
    assert m5_grid("/root/testdata/sf0.1") == [100, 300]


def test_rf_sweep_parallel_matches_grid(spark):
    rows = [(i, [float(i % 7), float(i % 3)], i % 2) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, arr array<double>, y int")
    from pyspark.ml.functions import array_to_vector

    d = df.select(array_to_vector("arr").alias("features"), F.col("y").cast("double").alias("y"))
    out = MO.rf_numtrees_sweep(d, d, [5, 10, 15], "features", "y", parallelism=3).collect()
    assert sorted(r["num_trees"] for r in out) == [5, 10, 15]
    assert all(0.0 <= r["auc"] <= 1.0 for r in out)


def test_roc_points_constant_scores_binned(spark):
    # all scores identical + n_bins: bin width is 0 — the quantization
    # must not produce a NaN group (regression: 0/0 collapsed the curve)
    rows = [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    pts = ME.roc_points(df, "score", "y", n_bins=16).collect()
    assert len(pts) == 1
    assert not math.isnan(pts[0]["threshold"]) and pts[0]["threshold"] == 0.5
    assert pts[0]["fpr"] == 1.0 and pts[0]["tpr"] == 1.0


def test_chi2_matches_mllib(spark):
    # categorical feature (3 levels) vs binary label
    rows = [(0.0, 0.0)] * 20 + [(0.0, 1.0)] * 5 + [(1.0, 0.0)] * 10 + \
        [(1.0, 1.0)] * 15 + [(2.0, 0.0)] * 7 + [(2.0, 1.0)] * 3
    df = spark.createDataFrame(rows, "x double, y double")
    ours = MO.chi2_scores(df, ["x"], "y").collect()[0]["chi2"]

    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import ChiSquareTest

    v = VectorAssembler(inputCols=["x"], outputCol="fx").transform(df)
    theirs = ChiSquareTest.test(v, "fx", "y").collect()[0]["statistics"][0]
    assert abs(ours - theirs) < 1e-4


def test_mutual_information_exact(spark):
    # perfectly dependent -> MI = H(Y) = ln 2; independent -> MI = 0
    dep = spark.createDataFrame(
        [("a", 0)] * 10 + [("b", 1)] * 10, "x string, y int"
    )
    mi_dep = MO.mutual_information(dep, ["x"], "y").collect()[0]["mi"]
    assert abs(mi_dep - math.log(2)) < 1e-6

    ind = spark.createDataFrame(
        [("a", 0)] * 5 + [("a", 1)] * 5 + [("b", 0)] * 5 + [("b", 1)] * 5,
        "x string, y int",
    )
    mi_ind = MO.mutual_information(ind, ["x"], "y").collect()[0]["mi"]
    assert abs(mi_ind) < 1e-9


def test_lr_l1_sparsifies(spark):
    import random

    rng = random.Random(0)
    # y depends only on f0; f1/f2 are noise -> strong L1 zeroes them
    rows = []
    for _ in range(200):
        x0 = rng.random()
        rows.append((x0, rng.random(), rng.random(), 1.0 if x0 > 0.5 else 0.0))
    df = spark.createDataFrame(rows, "f0 double, f1 double, f2 double, y double")
    from predicting_hospital_readmission_using_mimic_database_spark.ml.features import assemble_features

    a = assemble_features(df, ["f0", "f1", "f2"])
    model = MO.train_lr_l1(a, C=20.0, label="y")
    coefs = model.coefficients.toArray()
    assert abs(coefs[0]) > 0  # signal survives
    assert abs(coefs[1]) < 0.3 and abs(coefs[2]) < 0.3  # noise shrunk


def test_metrics_degenerate_inputs(spark):
    # one-class input: AUC undefined -> NULL, battery divisions NULL not error
    df = spark.createDataFrame([(0.5, 1), (0.7, 1)], "score double, y int")
    row = ME.auc_metrics(df, "score", "y").collect()[0]
    assert row["roc_auc"] is None and row["pr_auc"] == 1.0
    b = ME.binary_metrics(df, "score", "y", 0.6).collect()[0]
    assert b["specificity"] is None and b["recall"] == 0.5
    # empty input: no curve points, single NULL-ish AUC row
    empty = spark.createDataFrame([], "score double, y int")
    assert ME.roc_points(empty, "score", "y").collect() == []
    erow = ME.auc_metrics(empty, "score", "y").collect()[0]
    assert erow["roc_auc"] is None


def test_hash_features_fixed_dim_and_counts(spark):
    import pytest

    from predicting_hospital_readmission_using_mimic_database_spark.ml.features import hash_features

    df = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["a"]), (3, [])],
        "id long, toks array<string>",
    )
    out = hash_features(df, "id", "toks", n_features=8).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r["bucket"] < 8
        by_doc.setdefault(r["id"], {})[r["bucket"]] = r["n"]
    # same token -> same bucket on every doc; counts are per-doc
    a_bucket = [b for b, n in by_doc[1].items() if n == 2]
    assert len(a_bucket) == 1 and by_doc[2] == {a_bucket[0]: 1}
    assert 3 not in by_doc  # token-less docs have empty feature sets
    with pytest.raises(ValueError):
        hash_features(df, "id", "toks", n_features=0)


def _local_bpe(corpus_words, n_merges, min_count=2):
    """Reference BPE (Sennrich 2016 pseudocode, word-count table form)."""
    from collections import Counter

    vocab = Counter(corpus_words)
    symbolized = {w: [*w, "</w>"] for w in vocab}
    merges = []
    for step in range(n_merges):
        pairs = Counter()
        for w, n in vocab.items():
            s = symbolized[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        if cnt < min_count:
            break
        merges.append((step, a, b, cnt))
        for w in symbolized:
            s, out, i = symbolized[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            symbolized[w] = out
    return merges, symbolized


def test_bpe_train_matches_local_reference(spark):
    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import bpe_train

    docs = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low new",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "id long, text string")
    got_merges, got_vocab = bpe_train(df, "text", n_merges=8)
    words = " ".join(docs).split()
    want_merges, want_syms = _local_bpe(words, 8)
    assert got_merges == want_merges
    got_syms = {r["w"]: list(r["syms"]) for r in got_vocab.collect()}
    assert got_syms == want_syms
    got_vocab.unpersist()


def test_bpe_train_conf_scoped_to_cloned_session(spark):
    """The distributed trainer's AQE / shuffle-partition overrides live
    in a CLONED session: the caller's session conf is never written
    (not even set-then-restored — concurrent queries on a shared
    session must never observe the overrides), no global temp view
    leaks, and the returned vocab belongs to the caller's session."""
    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import bpe_train

    df = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest new")],
        "id long, text string",
    )
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    orig_set = spark.conf.set
    touched = []

    def guard(key, value):
        if key in keys:
            touched.append(key)
        return orig_set(key, value)

    spark.conf.set = guard
    try:
        stats = {}
        merges, vocab = bpe_train(
            df, "text", n_merges=4, local_below=0, stats=stats
        )
    finally:
        spark.conf.set = orig_set
    assert stats["regime"] == "distributed" and len(merges) == 4
    assert touched == []  # caller session conf never written
    assert {k: spark.conf.get(k) for k in keys} == before
    assert vocab.sparkSession is spark  # handed back to the caller
    leftovers = [
        t.name for t in spark.catalog.listTables("global_temp")
        if t.name.startswith(("bpe_vocab_", "loop_"))
    ]
    assert leftovers == []
    vocab.unpersist()


def test_bpe_loop_session_keeps_aqe_off_under_tune_session(spark, monkeypatch):
    """The distributed trainer runs on ``session.loop_session``'s clone,
    whose AQE-off override survives a ``tune_session`` (any
    ``read_table`` re-tunes the session it reads on); the merges still
    equal the local reference."""
    from predicting_hospital_readmission_using_mimic_database_spark.ml import bpe
    from predicting_hospital_readmission_using_mimic_database_spark.session import tune_session

    seen = []
    orig = bpe.pair_and_triple_counts

    def spy(vocab):
        sess = tune_session(vocab.sparkSession)
        seen.append((sess is spark, sess.conf.get("spark.sql.adaptive.enabled")))
        return orig(vocab)

    monkeypatch.setattr(bpe, "pair_and_triple_counts", spy)
    docs = ["low lower lowest low low", "new newer newest new newer"]
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    merges, vocab = bpe.bpe_train(df, "text", n_merges=6, local_below=0)
    assert seen and all(s == (False, "false") for s in seen), seen
    assert merges == _local_bpe(" ".join(docs).split(), 6)[0]
    assert vocab.sparkSession is spark
    vocab.unpersist()


def test_bpe_batched_sequence_exact_vs_reference(spark):
    """Merge batching must be byte-identical to the sequential schedule
    — verified, not assumed: randomized corpora heavy in OVERLAPPING
    top pairs (ab/ba chains, aaa runs, count ties) where a naive batch
    would reorder or over-merge. Checked against both batch_pairs=1 and
    the local Sennrich reference."""
    import random

    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import bpe_train

    rng = random.Random(13)
    alphabet = "abcde"
    for trial in range(4):
        words = []
        for _ in range(40):
            n = rng.randint(1, 8)
            words.append("".join(rng.choice(alphabet) for _ in range(n)))
        # adversarial shapes: self-overlap runs and alternations
        words += ["aaaa", "aaa", "ababab", "bababa", "ababa"] * (trial + 1)
        docs = [" ".join(words[i::4]) for i in range(4)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "id long, text string"
        )
        batched, v1 = bpe_train(df, "text", n_merges=12, window=16, local_below=0)
        single, v2 = bpe_train(
            df, "text", n_merges=12, batch_pairs=1, local_below=0
        )
        fast, _v3 = bpe_train(df, "text", n_merges=12)  # driver fast path
        want, _ = _local_bpe(" ".join(docs).split(), 12)
        assert batched == single == fast == want, (
            trial, batched, single, fast, want
        )
        v1.unpersist(); v2.unpersist()


def test_bpe_batching_amortizes_jobs_on_batchable_corpus(spark):
    """On a corpus DESIGNED to allow batching (symbol-disjoint repeated
    pairs with strictly separated counts) the distributed trainer must
    actually batch: mean accepted batch > 1 and at least 2x fewer Spark
    jobs than merges — the measured claim behind the batching machinery
    — while staying sequence-identical to the single-step schedule. A
    tie-heavy corpus is also checked: there the stats must HONESTLY
    report ~1-sized batches and the adaptive window widening."""
    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import bpe_train

    # word i = (A_i B_i)^3 with count 100-i over disjoint alphabets:
    # pair (A_i, B_i) has count 3(100-i), every batch-created pair is
    # bounded by 2(100-i) triples, so the top pairs accept in one prefix
    rows = []
    for i in range(30):
        w = (chr(0x100 + 2 * i) + chr(0x101 + 2 * i)) * 3
        rows.extend((len(rows) + j, w) for j in range(100 - i))
    df = spark.createDataFrame(rows, "id long, text string")
    stats: dict = {}
    batched, _v = bpe_train(
        df, "text", n_merges=12, local_below=0, stats=stats
    )
    single, _v2 = bpe_train(df, "text", n_merges=12, batch_pairs=1, local_below=0)
    assert batched == single
    assert len(batched) == 12
    assert stats["regime"] == "distributed"
    assert stats["mean_batch"] > 1, stats
    assert stats["jobs"] * 2 <= len(batched), stats
    # tie-heavy corpus: batches honestly collapse toward 1 and a FULL
    # truncated window triggers the adaptive widening
    tie = spark.createDataFrame(
        [(i, "ababab bababa ababa aaaa") for i in range(20)],
        "id long, text string",
    )
    s2: dict = {}
    m2, _v3 = bpe_train(
        tie, "text", n_merges=6, local_below=0, window=8, stats=s2
    )
    m2s, _v4 = bpe_train(tie, "text", n_merges=6, batch_pairs=1, local_below=0)
    assert m2 == m2s
    assert s2["window_final"] > 8, s2


def test_bpe_select_batch_bounds():
    """Unit checks of the batch certificate: prefix-only, symbol
    disjointness, triple new-pair bound, truncated-window cutoff."""
    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import _select_batch

    def row(kind, s1, s2, s3, cnt):
        return {"kind": kind, "s1": s1, "s2": s2, "s3": s3, "cnt": cnt}

    # disjoint pairs, no threatening triples: both accepted
    rows = [row("p", "a", "b", None, 10), row("p", "c", "d", None, 8)]
    assert _select_batch(rows, 1, 64, complete=True) == [
        ("a", "b", 10), ("c", "d", 8)
    ]
    # symbol overlap with a LIVE interaction triple ends the batch
    # (never skips): merging (a,b) at an "a b c" site destroys (b,c)
    rows = [
        row("p", "a", "b", None, 10),
        row("p", "b", "c", None, 9),
        row("p", "d", "e", None, 8),
        row("t", "a", "b", "c", 4),
    ]
    assert _select_batch(rows, 1, 64, complete=True) == [("a", "b", 10)]
    # ...but overlap with provably ZERO interaction triples is stable
    # and accepted (complete window, no (a,b,c) triple anywhere)
    rows = [
        row("p", "a", "b", None, 10),
        row("p", "b", "c", None, 9),
    ]
    assert _select_batch(rows, 1, 64, complete=True) == [
        ("a", "b", 10), ("b", "c", 9)
    ]
    # overlap in a TRUNCATED window can't be certified -> batch ends
    assert _select_batch(rows, 1, 64, complete=False) == [("a", "b", 10)]
    # the d == a interaction direction: merging (b,c) at a "d b c"...
    # i.e. candidate (d,b) after accepted (b,c) needs triple (d,b,c)
    rows = [
        row("p", "b", "c", None, 10),
        row("p", "d", "b", None, 9),
        row("t", "d", "b", "c", 1),
    ]
    assert _select_batch(rows, 1, 64, complete=True) == [("b", "c", 10)]
    # a triple adjacent to the first merge bounds the second: the new
    # pair (x, ab) could have count 8 >= cnt(c,d)=8 -> stop
    rows = [
        row("p", "a", "b", None, 10),
        row("p", "c", "d", None, 8),
        row("t", "x", "a", "b", 8),
    ]
    assert _select_batch(rows, 1, 64, complete=True) == [("a", "b", 10)]
    # strictly above the bound: accepted
    rows[2] = row("t", "x", "a", "b", 7)
    assert len(_select_batch(rows, 1, 64, complete=True)) == 2
    # truncated window: second pair at the cutoff count may be shadowed
    rows = [row("p", "a", "b", None, 10), row("p", "c", "d", None, 10)]
    assert _select_batch(rows, 1, 64, complete=False) == [("a", "b", 10)]
    assert len(_select_batch(rows, 1, 64, complete=True)) == 2
    # min_count gates every member
    rows = [row("p", "a", "b", None, 3), row("p", "c", "d", None, 1)]
    assert _select_batch(rows, 2, 64, complete=True) == [("a", "b", 3)]
    # max_batch cap
    rows = [row("p", "a", "b", None, 10), row("p", "c", "d", None, 8)]
    assert len(_select_batch(rows, 1, 1, complete=True)) == 1


def test_bpe_apply_merge_greedy_nonoverlapping(spark):
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import apply_merge

    df = spark.createDataFrame([(["a", "a", "a"],), (["a", "b", "a", "b"],)],
                               "s array<string>")
    out = [list(r["m"]) for r in df.select(apply_merge(F.col("s"), "a", "a").alias("m")).collect()]
    assert out[0] == ["aa", "a"]  # left-to-right, no re-merge in the pass
    out2 = [list(r["m"]) for r in df.select(apply_merge(F.col("s"), "a", "b").alias("m")).collect()]
    assert out2[1] == ["ab", "ab"]


def test_bpe_encode_round_trips_training_corpus(spark):
    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import bpe_encode, bpe_train

    docs = ["low lower lowest low low", "new newer newest new newer"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)], "id long, text string")
    merges, vocab = bpe_train(df, "text", n_merges=10)
    enc = {r["id"]: list(r["tokens"]) for r in bpe_encode(df, "id", "text", merges).collect()}
    # encoding a training word must reproduce its trained symbolization
    trained = {r["w"]: list(r["syms"]) for r in vocab.collect()}
    for i, doc in enumerate(docs):
        want = [t for w in doc.split() for t in trained[w]]
        assert enc[i] == want, (i, enc[i], want)
    # unseen text degrades gracefully to finer segments, never fails
    unseen = spark.createDataFrame([(9, "lonew")], "id long, text string")
    out = bpe_encode(unseen, "id", "text", merges).collect()[0]["tokens"]
    assert "".join(out).replace("</w>", "") == "lonew"
    vocab.unpersist()


def test_psi_bins_identical_halves_near_zero_and_shifted_large(spark):
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.ml.metrics import psi_bins

    same = spark.range(2000).select(
        (F.col("id") % 100).cast("double").alias("v"), (F.col("id") % 2).alias("g")
    )
    psi_same = (
        psi_bins(same, "v", F.col("g") == 1).agg(F.sum("psi_term")).collect()[0][0]
    )
    assert abs(psi_same) < 0.01  # identical distributions -> ~0
    shifted = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, (F.col("id") % 100).cast("double"))
        .otherwise((F.col("id") % 100).cast("double") + 80.0)
        .alias("v"),
        (F.col("id") % 2).alias("g"),
    )
    psi_shift = (
        psi_bins(shifted, "v", F.col("g") == 1).agg(F.sum("psi_term")).collect()[0][0]
    )
    assert psi_shift > 0.5  # gross shift -> well past the 0.2 alarm
    import pytest

    with pytest.raises(ValueError, match="n_bins"):
        psi_bins(same, "v", F.col("g") == 1, n_bins=1)


def test_calibration_curve_perfectly_calibrated_scores(spark):
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.ml.metrics import calibration_curve

    # score s in {0.05,...,0.95}; label ~ Bernoulli(s) realized exactly
    # per 100-row block -> pos_rate equals the bin's mean score
    rows = []
    for b in range(10):
        s = b / 10 + 0.05
        pos = int(round(s * 100))
        rows += [(s, 1)] * pos + [(s, 0)] * (100 - pos)
    df = spark.createDataFrame(rows, "score double, label int")
    out = {r["bin"]: r for r in calibration_curve(df, "score", "label").collect()}
    assert len(out) == 10
    for b, r in out.items():
        assert r["n"] == 100
        assert abs(r["mean_score"] - r["pos_rate"]) < 1e-9


def test_bpe_word_encoder_matches_quadratic_reference():
    """The heap/linked-list encoder must be symbol-identical to the
    naive rescan-per-merge greedy loop (lowest rank first, leftmost
    occurrence first) on random words/merge tables AND on the
    long-token adversary that cliffs the quadratic loop."""
    import random

    from predicting_hospital_readmission_using_mimic_database_spark.ml.bpe import (
        END_MARKER,
        make_word_encoder,
    )

    def reference(word, ranks, end_marker=END_MARKER):
        syms = [*word, end_marker]
        while len(syms) >= 2:
            best_i, best_r = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    rng = random.Random(7)
    alphabet = "abc"
    for trial in range(300):
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        # random merge table built the way training produces one:
        # merges over previously formed symbols, ranks = insertion order
        symbols = list(alphabet) + [END_MARKER]
        ranks: dict = {}
        for _ in range(rng.randint(0, 12)):
            a, b = rng.choice(symbols), rng.choice(symbols)
            if (a, b) not in ranks:
                ranks[(a, b)] = len(ranks)
                symbols.append(a + b)
        enc = make_word_encoder(ranks)
        got, want = enc(word), reference(word, ranks)
        assert got == want, (trial, word, ranks, got, want)
        assert "".join(got).replace(END_MARKER, "") == word
    # adversarial long token: chained self-merges over one repeated char
    ranks = {}
    sym = "a"
    for _ in range(12):  # a+a, aa+aa, ... up to 4096-char symbols
        ranks[(sym, sym)] = len(ranks)
        sym += sym
    enc = make_word_encoder(ranks)
    n = 5000
    got = enc("a" * n)
    assert "".join(got) == "a" * n + END_MARKER
    # the greedy result is the binary decomposition of n, longest-first
    body = [t for t in got if t != END_MARKER]
    assert sorted(len(t) for t in body) == sorted(
        1 << b for b in range(13) if n & (1 << b)
    ) or sum(len(t) for t in body) == n
