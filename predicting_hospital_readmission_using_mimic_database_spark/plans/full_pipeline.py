"""End-to-end pipeline (SURVEY §3.2 + §3.3 composed; §5.2's e2e test).

The reference's complete flow on harness data, one engine composition:

1. feature engineering (the §3.2 chain): per-user event-type pivot counts
   (A8, the diagnosis-matrix analogue), value aggregates, tenure in days
   (C5/C6 analogue), readmission label from the flagship window chain;
2. modeling prep (§3.3): numeric-column selection (M1), 80/20 split (U3),
   1:1 undersample of the training side (U4/U8 — the reference's
   base strategy, py:447);
3. fit + evaluate: RandomForest (M3), probability scores (M4), ROC-AUC
   (E2) and the threshold battery (E5) — every number produced by the
   engine's own operators, no sklearn, no driver-side math.

Plan shape: ONE shuffle on user_id covers the label window and the
per-user aggregation (same key); the pivot uses explicit values (single
pass); the assembled training set is cached before tree induction
(SURVEY §4.2).

Session: every frame derives from the ``events`` scan that
:func:`_pipeline_events` reads on ``session.small_plan_spark``'s session.
Below ``$SPARK_GRAFT_SMALL_PLAN_BYTES`` of input that is the byte-gated
AQE-off clone the lakehouse DML ops use: the pipeline is dozens of
fixed-shape micro-plans (fits, resamplers, metric aggregates), where AQE's
per-exchange stage materialization is one driver job per shuffle with
nothing to re-plan. Above the gate it is the caller's AQE session,
unchanged. The returned summary frame is always built on the caller's
session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import metrics as ME
from ..ml import models as MO
from ..ml.features import assemble_features, numeric_columns
from ..operators import sampling as SA
from ..session import local_frame, small_plan_spark
from ..sources.io import read_table
from .readmission import readmit_labels

EVENT_TYPES = ("signup", "login", "purchase", "view", "error")


FREQUENT_READMIT_DAYS = 0.56  # ~median per-user mean gap-to-next-unplanned

#: LBFGS frames: one job per iteration, so undersized partitions pay task
#: launch per iteration; ~this many rows per task amortizes it
ROWS_PER_FIT_PARTITION = 50_000


def _fit_partitions(n_rows: int) -> int:
    """Size-derived partition count for iterative-fit frames: enough
    partitions for the data volume, never zero. ``coalesce`` never adds
    partitions, so a frame that already has fewer keeps its own."""
    import math

    return max(1, math.ceil(n_rows / ROWS_PER_FIT_PARTITION))


def _pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` scan every pipeline frame derives from, read on
    ``small_plan_spark``'s session: gated on Spark's own size statistic
    for the scan (from the file listing — no job runs)."""
    events = read_table(spark, sf_dir, "events")
    est = events._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    sess = small_plan_spark(spark, est_bytes=int(est))
    return events if sess is spark else read_table(sess, sf_dir, "events")


def user_feature_table(events: DataFrame) -> DataFrame:
    """Per-user modeling table: pivot counts + value stats + tenure +
    label = "frequent readmitter" (mean gap to next unplanned event under
    FREQUENT_READMIT_DAYS — the 30-day flag is degenerate on the dense
    harness streams where every user readmits within 30d; the reference's
    58k-patient corpus has 19% prevalence, ours needs a tighter window to
    be a real classification task)."""
    # ONE wide dependency end-to-end: `value` rides through the label
    # window (keep=), so every feature — label, counts, tenure, value
    # stats, per-type counts — is a single groupBy on user_id that REUSES
    # the window's hash partitioning (no second exchange, no joins). The
    # conditional counts are the explicit-values pivot expressed as
    # aggregates; count() never returns NULL, matching the old
    # pivot+na.fill(0) exactly. The previous shape (3 aggregations over
    # the raw scan + 2 user_id joins) read the fact table three times —
    # at 100 TB that is the difference between one shuffle and three.
    labeled = readmit_labels(events, keep=("value",))
    return labeled.groupBy("user_id").agg(
        # coalesce: a user with NO resolvable next-unplanned gap (all NULL)
        # is a non-readmitter, not a third NULL class
        F.coalesce(
            (F.avg("gap_days") < F.lit(FREQUENT_READMIT_DAYS)).cast("int"), F.lit(0)
        ).alias("label"),
        F.count("*").alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(86400.0e6)
        ).alias("tenure_days"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        *[
            F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def strategy_comparison(spark: SparkSession, sf_dir: str, seed: int = 42) -> DataFrame:
    """The reference's FINAL deliverable (py:838-861, BASELINE.md's
    five-strategy table): L1 logistic regression trained under each
    class-imbalance strategy — base / random undersample / random
    oversample / SMOTE / NearMiss — evaluated on ONE held-out test split
    with the engine's own AUC + battery. One row per strategy. Every frame
    the comparison caches is released before it returns.
    """
    from pyspark.ml.functions import array_to_vector

    pinned: list[DataFrame] = []  # every frame cached below
    try:
        events = _pipeline_events(spark, sf_dir)
        # cache the per-user table (tiny): the standardization stats agg and
        # the base projection below are two consumers — uncached, each re-runs
        # the whole window+agg chain over the fact table
        table = user_feature_table(events).cache()
        pinned.append(table)
        feat_cols = [c for c in numeric_columns(table, exclude=("user_id", "label"))]
        # standardize: mixed feature scales (tenure in days vs event counts)
        # would dominate both the L1 penalty and the kNN euclidean metric;
        # one tiny agg, broadcast back — no per-row collect
        stats = table.agg(
            *[F.avg(c).alias(f"__mu_{c}") for c in feat_cols],
            *[F.coalesce(F.stddev(c), F.lit(1.0)).alias(f"__sd_{c}") for c in feat_cols],
        )
        std = table.crossJoin(F.broadcast(stats))
        zcols = [
            (
                (F.col(c) - F.col(f"__mu_{c}"))
                / F.when(F.col(f"__sd_{c}") > 0, F.col(f"__sd_{c}")).otherwise(F.lit(1.0))
            ).alias(c)
            for c in feat_cols
        ]
        base = std.select(
            "user_id",
            F.array(*zcols).alias("arr"),
            F.col("label").cast("int").alias("y"),
        )
        # cache the STANDARDIZED PER-USER frame, not just the train side: the
        # feature chain (label windows + pivot + joins) otherwise re-runs for
        # the stats branch, the train branch, AND the test branch — three full
        # passes. Per-user rows are orders of magnitude fewer than events, so
        # this is the cheap thing to pin. Materialize BEFORE the strategy
        # pool: five threads racing a cold cache each recompute the chain
        # (cache blocks populate per-partition without coordination).
        base = base.cache()
        pinned.append(base)
        base.count()
        table.unpersist()  # everything downstream reads base's cache
        # hash-stratified: GUARANTEES the held-out side keeps both classes at
        # any scale — a Bernoulli split of a small user table can hand test a
        # single class and leave every strategy's AUC undefined (sf0.001)
        train, test = SA.stratified_hash_split(base, "y", "user_id", 0.2)
        train = train.cache()
        pinned.append(train)
        train.count()
        # every strategy scores this same frame (three actions each) — without
        # the cache the whole feature chain (windows + pivot + joins) re-runs
        # per metric collect. Partition count is SIZE-DERIVED (not a bench-box
        # constant): each LBFGS iteration is one job over the frame, so target
        # enough rows per task that scheduling overhead amortizes, never fewer
        # partitions than the data needs.
        test_v = (
            test.withColumn("features", array_to_vector("arr"))
            .withColumn("y", F.col("y").cast("double"))
            .cache()
        )
        pinned.append(test_v)  # the cached frame: the coalesced one is a new plan
        test_v = test_v.coalesce(_fit_partitions(test_v.count()))

        # threshold/bucket_length omitted -> smote/nearmiss auto-tune them from
        # the sampled kNN-distance quantile of THIS frame (no hand constants)
        knn_kwargs = dict(num_hash_tables=5)

        strategies = [
            ("base", lambda: train),
            ("undersample", lambda: SA.balance_undersample(train, "y", seed=seed)),
            ("oversample", lambda: SA.oversample_with_replacement(train, "y", seed=seed)),
            # target_ratio=1.0: imblearn's 1:1 default (py:772), like the other
            # resamplers — k alone yields at most k rows per minority row
            ("smote", lambda: SA.smote(
                train, "user_id", "arr", "y", minority_value=1, k=2, seed=seed,
                target_ratio=1.0, **knn_kwargs
            )),
            ("nearmiss", lambda: SA.nearmiss(
                train, "user_id", "arr", "y", minority_value=1, k=3, seed=seed, **knn_kwargs
            )),
        ]

        def evaluate(item):
            name, mk = item
            made = mk()
            trv = (
                made.withColumn("features", array_to_vector("arr"))
                .withColumn("y", F.col("y").cast("double"))
                .cache()  # consumed by the fit AND the count — SMOTE/NearMiss
                # kNN must not re-run per action
            )
            battery = None
            try:
                n = trv.count()
                fit_df = trv.coalesce(_fit_partitions(n))
                model = MO.train_lr_l1(fit_df, C=10.0, features="features", label="y", max_iter=25)
                scored = MO.predict_proba(model, test_v)
                # one fused pass: AUC + battery from the same per-score frame
                # (scored is scanned once, not once per metric family)
                battery = ME.auc_with_battery(scored, "p1", "y", 0.5)
                m = battery.collect()[0]
            finally:
                # five strategies run concurrently: leaving each trv (and
                # smote's / the battery's internal caches) pinned can evict the
                # shared base/train/test_v blocks mid-run at larger sfs
                trv.unpersist()
                SA.release_aux_caches(made, battery)
            return (name, n, m["roc_auc"], m["accuracy"], m["recall"],
                    m["precision"], m["f1"])

        # strategies are independent: submit from a driver thread pool
        # (CrossValidator's parallelism scheme) so the scheduler overlaps
        # their jobs instead of idling between sequential fits; ex.map keeps
        # the canonical row order
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(strategies)) as ex:
            rows = list(ex.map(evaluate, strategies))
    finally:
        for df in pinned:
            df.unpersist()
    return local_frame(
        spark,
        rows,
        "strategy string, n_train long, auc double, accuracy double, "
        "recall double, precision double, f1 double",
    )


def run_pipeline(spark: SparkSession, sf_dir: str, seed: int = 42) -> DataFrame:
    """Full train/evaluate run; returns a one-row summary DataFrame:
    counts, prevalence, the balanced-train check, held-out AUC, and the
    reference's FULL threshold battery at 0.5 (accuracy / recall /
    precision / specificity / prevalence / f1 — py:508-534)."""
    events = _pipeline_events(spark, sf_dir)
    # the per-user table feeds FOUR consumers (assembled train/test chain,
    # n_users, prevalence) — cache it or the window+pivot+join chain
    # re-runs per action; per-user rows are small relative to events
    table = user_feature_table(events).cache()
    train_bal = battery = None
    try:
        feat_cols = [c for c in numeric_columns(table, exclude=("user_id", "label"))]
        assembled = assemble_features(
            table.select("user_id", *feat_cols, F.col("label").cast("double").alias("y")),
            feat_cols,
        )

        # hash-stratified on user_id: both classes guaranteed on both sides
        # at any scale (a Bernoulli split can empty a small class's test side)
        train, test = SA.stratified_hash_split(assembled, "y", "user_id", 0.2)
        train_bal = SA.balance_undersample(train, "y", seed=seed).cache()

        model = MO.train_rf(train_bal, "features", "y", num_trees=50, seed=seed)
        scored = MO.predict_proba(model, test)

        battery = ME.auc_with_battery(scored, "p1", "y", 0.5)
        m = battery.collect()[0]
        # one aggregate job per frame: n_users+prevalence fuse over the
        # cached per-user table, and the balanced-train total is the sum of
        # the per-class counts already collected for the balance check
        trow = table.agg(
            F.count("*").alias("n"), F.round(F.avg("label"), 4).alias("prev")
        ).collect()[0]
        n_users, prevalence = trow["n"], trow["prev"]
        cls = [r["n"] for r in train_bal.groupBy("y").agg(F.count("*").alias("n")).collect()]
        n_test = scored.count()
    finally:
        for df in (table, train_bal):
            if df is not None:
                df.unpersist()
        SA.release_aux_caches(battery)

    return local_frame(
        spark,
        [
            (
                n_users,
                float(prevalence),
                sum(cls),
                bool(len(cls) > 1 and max(cls) == min(cls)),
                n_test,
                m["roc_auc"],
                m["accuracy"],
                m["recall"],
                m["precision"],
                m["specificity"],
                m["prevalence"],
                m["f1"],
            )
        ],
        "n_users long, prevalence double, n_train_balanced long, "
        "train_class_balanced boolean, n_test long, auc double, "
        "accuracy double, recall double, precision double, "
        "specificity double, prevalence_at_05 double, f1 double",
    )
