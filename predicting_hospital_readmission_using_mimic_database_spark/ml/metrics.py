"""Evaluation metrics E1-E7 (SURVEY.md §2.10), DataFrame-native.

The reference computes ROC/PR curves and a threshold battery with sklearn
over numpy arrays on the driver (py:484-534, py:508-515, py:846-861). Here
every metric is a Spark plan:

- the confusion cells are ONE aggregation of conditional sums (the A5
  substrate — no per-metric pass over the data);
- ROC / PR curves pre-aggregate by distinct score (groupBy — map-side
  partial agg), then take a DISTRIBUTED running sum via
  ``relational.partitioned_cumsum`` (range partition + per-partition window
  + broadcast offsets) — no single-partition window at any input size;
- AUC needs NO lag/lead: with per-score groups (p_i positives, f_i
  negatives, running positives cum_p_i), the trapezoid over the ROC curve
  telescopes to  sum_i f_i * (cum_p_i - p_i/2) / (P*N),  and step-wise
  AUC-PR (sklearn average_precision) is  sum_i (p_i/P) * precision_i.
  Both are single aggregations over the per-score frame — and therefore
  exactly SQL-expressible, so the driver hash-checks them against DuckDB.

Scale posture: at extreme score cardinality pass ``n_bins`` to quantize
scores first (bounded curve resolution, bounded shuffle) — the estimator
everyone actually plots at 100 TB.

Caching contract: the curve substrate (`_score_groups`) caches its tiny
per-score aggregate so the plan's consumers (the running-sum main branch,
its per-partition offsets, and for the curves the totals) share one
input scan. Each operator call creates one such cached frame. The frames
are small (distinct scores), but nothing frees them before storage
pressure evicts them: callers evaluating many metric sets in a long-lived
session should not loop these operators unboundedly without
``spark.catalog.clearCache()`` between rounds. ``auc_with_battery``, the
one a sweep calls per model, hands its frame back as the result's
``_aux_caches`` list (the handle ``operators.sampling.smote`` uses for its
internal caches): a caller that has collected the result releases it at
once with ``sampling.release_aux_caches`` (``plans/full_pipeline`` does).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.relational import partitioned_cumsum

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _safe_div(num: Column, den: Column) -> Column:
    """NULL (not error / inf) on zero denominators — identical to the SQL
    ``num / NULLIF(den, 0)`` the oracles use."""
    return F.when(den != 0, num / den)


def confusion_counts(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, thresh: float
) -> DataFrame:
    """E4 substrate — all four confusion cells in ONE pass (py:484-502).

    Prediction rule: ``score > thresh`` is positive (the reference's
    ``y_pred > t``).
    """
    s, y = _col(score), _col(label)
    pred = (s > F.lit(thresh)).cast("long")
    pos = (y == 1).cast("long")
    return df.agg(
        F.sum(pred * pos).alias("tp"),
        F.sum(pred * (1 - pos)).alias("fp"),
        F.sum((1 - pred) * pos).alias("fn"),
        F.sum((1 - pred) * (1 - pos)).alias("tn"),
    )


def _derived_metrics(cells: DataFrame, digits: int = 6) -> DataFrame:
    tp, fp, fn, tn = F.col("tp"), F.col("fp"), F.col("fn"), F.col("tn")
    n = tp + fp + fn + tn
    r = lambda c: F.round(c, digits)  # noqa: E731
    return cells.select(
        *cells.columns,
        r(_safe_div(tp + tn, n)).alias("accuracy"),
        r(_safe_div(tp, tp + fn)).alias("recall"),
        r(_safe_div(tp, tp + fp)).alias("precision"),
        r(_safe_div(tn, tn + fp)).alias("specificity"),
        r(_safe_div(tp + fn, n)).alias("prevalence"),
        r(_safe_div(F.lit(2) * tp, F.lit(2) * tp + fp + fn)).alias("f1"),
    )


def binary_metrics(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, thresh: float
) -> DataFrame:
    """E5/E6 — thresholded accuracy/recall/precision/specificity/prevalence
    + F1 (py:520-534, py:848-851), derived from the one-pass cells."""
    return _derived_metrics(confusion_counts(df, score, label, thresh))


def confusion_matrix(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, thresh: float
) -> DataFrame:
    """E4 — long-form confusion matrix (py:572 ``confusion_matrix``)."""
    s, y = _col(score), _col(label)
    return (
        df.select(
            (s > F.lit(thresh)).cast("int").alias("prediction"),
            (y == 1).cast("int").alias("label"),
        )
        .groupBy("label", "prediction")
        .agg(F.count("*").alias("n"))
    )


def threshold_metrics_table(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, thresholds: Sequence[float]
) -> DataFrame:
    """E7 — the battery at several thresholds as ONE plan: explode the
    threshold list, aggregate per threshold (py:860-861's summary table)."""
    s, y = _col(score), _col(label)
    e = df.select(
        s.alias("__s"), (y == 1).cast("long").alias("__pos"),
        F.explode(F.array(*[F.lit(float(t)) for t in thresholds])).alias("thresh"),
    )
    pred = (F.col("__s") > F.col("thresh")).cast("long")
    pos = F.col("__pos")
    cells = e.groupBy("thresh").agg(
        F.sum(pred * pos).alias("tp"),
        F.sum(pred * (1 - pos)).alias("fp"),
        F.sum((1 - pred) * pos).alias("fn"),
        F.sum((1 - pred) * (1 - pos)).alias("tn"),
    )
    return _derived_metrics(cells)


def _score_groups(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, n_bins: int | None = None
) -> DataFrame:
    """Per-distinct-score (p, f, cum_p, cum_f) — the curve substrate.

    ``n_bins`` quantizes scores to that many equal-width bins of [min,max]
    BEFORE grouping: bounded cardinality for 100 TB inputs.
    """
    s = _col(score).cast("double")
    y = (_col(label) == 1).cast("long")
    base = df.select(s.alias("score"), y.alias("pos"))
    if n_bins:
        lo, hi = F.min("score"), F.max("score")
        stats = base.agg(lo.alias("lo"), hi.alias("hi"))
        binned = F.col("lo") + (F.col("hi") - F.col("lo")) * (
            F.least(
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / n_bins)
                ),
                F.lit(n_bins - 1),
            )
            / n_bins
        )
        # degenerate range (all scores equal): the bin width is 0 and the
        # quantization above is 0/0 = NaN — keep the raw score instead so
        # the substrate stays one valid group
        base = base.crossJoin(F.broadcast(stats)).select(
            F.when(F.col("hi") != F.col("lo"), binned)
            .otherwise(F.col("score"))
            .alias("score"),
            "pos",
        )
    g = base.groupBy("score").agg(
        F.sum("pos").alias("p"), F.sum(1 - F.col("pos")).alias("f")
    )
    # the curve plan fans out into two or three consumers (cumsum main
    # branch, per-partition offsets, the curves' totals); without this
    # cache each branch re-scans the INPUT — at 100 TB that is up to three
    # full reads of the fact table to rebuild a per-score frame that is
    # tiny by construction.
    # Caching the aggregate is the same physical decision SURVEY §4.2
    # makes for ML sweeps (cache small, reused intermediates).
    g = g.cache()
    out = partitioned_cumsum(g, ["score"], ["p", "f"], descending=True)
    out._aux_caches = [g]
    return out


def _totals(groups: DataFrame) -> DataFrame:
    # names avoid Spark's case-insensitive collision with per-group p/f
    return groups.agg(F.sum("p").alias("tot_p"), F.sum("f").alias("tot_n"))


def _auc_sums() -> list[Column]:
    """The telescoped ROC trapezoid and step AUC-PR numerators, plus the
    class totals, as aggregates over the per-score frame: the totals are
    plain sums of p/f in the SAME aggregate, so no separate totals branch
    (a broadcast cross join, one more job per exchange under AQE)."""
    return [
        F.sum(F.col("f") * (F.col("cum_p") - F.col("p") / 2.0)).alias("s_roc"),
        F.sum(
            F.col("p") * (F.col("cum_p") / (F.col("cum_p") + F.col("cum_f")))
        ).alias("s_pr"),
        F.sum("p").alias("n_pos"),
        F.sum("f").alias("n_neg"),
    ]


def _auc_cols() -> list[Column]:
    return [
        F.round(F.try_divide(F.col("s_roc"), F.col("n_pos") * F.col("n_neg")), 6).alias("roc_auc"),
        F.round(F.try_divide(F.col("s_pr"), F.col("n_pos")), 6).alias("pr_auc"),
    ]


def roc_points(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, n_bins: int | None = None
) -> DataFrame:
    """E1 — ROC curve as a DataFrame: one (threshold, fpr, tpr) row per
    distinct score, descending semantics (``score >= threshold`` predicts
    positive), no driver collect (py:508-509)."""
    g = _score_groups(df, score, label, n_bins)
    t = _totals(g)
    return g.crossJoin(F.broadcast(t)).select(
        F.round("score", 6).alias("threshold"),
        F.round(F.try_divide(F.col("cum_f"), F.col("tot_n")), 6).alias("fpr"),
        F.round(F.try_divide(F.col("cum_p"), F.col("tot_p")), 6).alias("tpr"),
    )


def pr_points(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, n_bins: int | None = None
) -> DataFrame:
    """E3 — precision/recall curve points (py:846)."""
    g = _score_groups(df, score, label, n_bins)
    t = _totals(g)
    return g.crossJoin(F.broadcast(t)).select(
        F.round("score", 6).alias("threshold"),
        F.round(F.try_divide(F.col("cum_p"), F.col("tot_p")), 6).alias("recall"),
        F.round(F.col("cum_p") / (F.col("cum_p") + F.col("cum_f")), 6).alias("precision"),
    )


def auc_metrics(
    df: DataFrame, score: ColumnOrName, label: ColumnOrName, n_bins: int | None = None
) -> DataFrame:
    """E2/E3 — exact ROC-AUC (trapezoid, ties averaged — sklearn
    ``roc_auc_score`` semantics) and AUC-PR (step interpolation — sklearn
    ``average_precision_score``), as ONE aggregation over the per-score
    frame. No lag/lead: the trapezoid telescopes (module docstring)."""
    g = _score_groups(df, score, label, n_bins)
    return g.agg(*_auc_sums()).select(*_auc_cols())


def auc_with_battery(
    df: DataFrame,
    score: ColumnOrName,
    label: ColumnOrName,
    thresh: float,
    n_bins: int | None = None,
) -> DataFrame:
    """E2 + E5 fused: ROC-AUC/AUC-PR AND the thresholded battery from ONE
    scan of the scored frame.

    The confusion cells at ``thresh`` are plain sums over the same
    per-distinct-score aggregate the AUC telescoped trapezoid reads
    (tp = Σ p_i over scores > thresh, ...), so both metric families share
    ``_score_groups``'s single input pass and collapse into one
    aggregation job — a five-strategy sweep otherwise scans each scored
    frame twice (auc_metrics + binary_metrics), and each scan re-runs the
    model transform. Values are bit-identical to the separate operators:
    same grouping, same sums, same rounding.

    ``n_bins`` is rejected: the battery classifies via ``score >
    thresh`` and binning would quantize scores BEFORE that comparison,
    silently diverging from ``binary_metrics`` on the raw frame (a score
    of 0.504 bins to 0.50 and flips its prediction at thresh=0.5). Use
    ``auc_metrics`` for the binned-AUC approximation.
    """
    if n_bins is not None:
        raise ValueError(
            "auc_with_battery requires exact scores (n_bins=None): the "
            "thresholded battery must classify raw scores; use auc_metrics "
            "for a binned AUC approximation"
        )
    g = _score_groups(df, score, label, n_bins)
    pred = (F.col("score") > F.lit(thresh)).cast("long")
    agg = g.agg(
        *_auc_sums(),
        F.sum(pred * F.col("p")).alias("tp"),
        F.sum(pred * F.col("f")).alias("fp"),
        F.sum((1 - pred) * F.col("p")).alias("fn"),
        F.sum((1 - pred) * F.col("f")).alias("tn"),
    )
    cells = agg.select(*_auc_cols(), "tp", "fp", "fn", "tn")
    out = _derived_metrics(cells)
    out._aux_caches = g._aux_caches
    return out


def psi_bins(
    df: DataFrame,
    value_col: str,
    is_actual: Column,
    n_bins: int = 10,
    smooth: float = 0.5,
    ndigits: int = 8,
) -> DataFrame:
    """POPULATION STABILITY INDEX — the standard train-vs-serving drift
    monitor: bin ``value_col`` into ``n_bins`` equal-width bins over the
    EXPECTED side's [min, max], compare the two distributions, and emit
    the per-bin PSI terms ``(p_act - p_exp) * ln(p_act / p_exp)`` (sum =
    the PSI; > 0.2 is the usual "investigate" rule of thumb).

    Plan: one agg for the expected-side range (broadcast back as a 1-row
    frame — no scalar collect), one map-side bucket assignment, ONE
    (bin, side) counting shuffle, then pure arithmetic. Laplace
    smoothing (``smooth`` pseudo-counts) keeps empty bins finite, so a
    bin present on only one side contributes a large-but-finite term
    instead of ±inf. Values outside the expected range clamp into the
    edge bins (where serving drift shows up). NULL values are dropped
    on both sides.
    """
    if n_bins < 2:
        raise ValueError(f"psi_bins: n_bins must be >= 2, got {n_bins}")
    v = F.col(value_col)
    tagged = df.filter(v.isNotNull()).select(
        v.alias("__v"), is_actual.cast("int").alias("__act")
    )
    rng = tagged.filter(F.col("__act") == 0).agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    b = tagged.crossJoin(F.broadcast(rng))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    bin_ = F.when(
        F.col("__hi") > F.col("__lo"),
        F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("__v") - F.col("__lo")) / width).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    counts = (
        b.select(bin_.alias("bin"), "__act")
        .groupBy("bin")
        .agg(
            F.sum(1 - F.col("__act")).cast("long").alias("n_exp"),
            F.sum("__act").cast("long").alias("n_act"),
        )
    )
    tot = counts.agg(
        F.sum("n_exp").alias("__te"), F.sum("n_act").alias("__ta")
    )
    s = F.lit(float(smooth))
    out = counts.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int"),
        "n_exp",
        "n_act",
        F.round(
            (
                (F.col("n_act") + s) / (F.col("__ta") + s * n_bins)
                - (F.col("n_exp") + s) / (F.col("__te") + s * n_bins)
            )
            * F.log(
                ((F.col("n_act") + s) / (F.col("__ta") + s * n_bins))
                / ((F.col("n_exp") + s) / (F.col("__te") + s * n_bins))
            ),
            ndigits,
        ).alias("psi_term"),
    )
    return out


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    ndigits: int = 6,
) -> DataFrame:
    """RELIABILITY DIAGRAM data: scores in [0, 1] bucketed into
    ``n_bins`` equal-width bins; per bin the mean predicted score vs the
    observed positive rate (+ count). A calibrated model hugs the
    diagonal; the gap is what temperature scaling fixes. One counting
    shuffle; empty bins simply absent."""
    if n_bins < 2:
        raise ValueError(f"calibration_curve: n_bins must be >= 2, got {n_bins}")
    sc = F.col(score_col)
    bin_ = F.least(F.lit(n_bins - 1), F.floor(sc * n_bins).cast("int"))
    return (
        df.filter(sc.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(sc), ndigits).alias("mean_score"),
            F.round(F.avg(F.col(label_col).cast("double")), ndigits).alias(
                "pos_rate"
            ),
        )
    )
