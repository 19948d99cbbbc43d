"""Relational operators (SURVEY.md §2.2 P*, §2.3 J*, §2.4 W*, §2.5 A*).

Design rules (the 100 TB posture):

- every operator is ``DataFrame -> DataFrame`` and LAZY — callers compose
  them and Catalyst optimizes the whole chain (filters reach the parquet
  scan, projections prune columns, join strategy picked by size/AQE);
- window operators take explicit (partition, order, tiebreaker) so results
  are deterministic under any partitioning — the reference leans on pandas
  row order (py:39, py:245), which does not exist on a cluster;
- joins accept a ``broadcast_right`` hint for dimension tables; the default
  leaves strategy selection to Catalyst + AQE (sort-merge w/ skew split);
- nothing here ever calls ``.collect()`` — aggregates stay DataFrames.

Reference call-sites cited per function (py:N = Hap880_Final_Project.py:N).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P* — projection / filter (§2.2)
# ---------------------------------------------------------------------------


def project(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P1 — column projection (py:83). Catalyst pushes the pruning into
    the scan's ReadSchema."""
    return df.select(*cols)


def filter_null(df: DataFrame, col: str) -> DataFrame:
    """P2 — IS NULL filter (py:85, drop in-hospital deaths)."""
    return df.filter(F.col(col).isNull())


def filter_not_null(df: DataFrame, col: str) -> DataFrame:
    """P10 — IS NOT NULL (py:66)."""
    return df.filter(F.col(col).isNotNull())


def filter_neq(df: DataFrame, col: str, value) -> DataFrame:
    """P3 — inequality filter (py:94 ``!= 'NEWBORN'``)."""
    return df.filter(F.col(col) != F.lit(value))


def filter_eq(df: DataFrame, col: str, value) -> DataFrame:
    """P4 — equality filter (py:242 ``== 'Discharge summary'``)."""
    return df.filter(F.col(col) == F.lit(value))


def filter_not_rlike(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """P6 — negated regex predicate (py:124 E/V-code detection)."""
    return df.filter(~F.col(col).rlike(pattern))


def filter_not_isin(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """P7 — negated IN-list (py:107)."""
    return df.filter(~F.col(col).isin(list(values)))


def split_by(df: DataFrame, cond: Column) -> tuple[DataFrame, DataFrame]:
    """P8 — boolean-mask split into (matching, non-matching) (py:442-444).
    Two lazy filters over one scan — Spark reuses the shuffle/cached input.

    NULL-condition rows go to the NON-matching half (pandas parity: a
    NaN-producing comparison is False, so ``df[mask]`` drops the row and
    ``df[~mask]`` keeps it). The two halves always partition the input.
    """
    return df.filter(cond), df.filter(~cond | cond.isNull())


def drop_na(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """P9 — drop rows with any NULL (py:345)."""
    return df.na.drop(subset=list(subset) if subset else None)


# ---------------------------------------------------------------------------
# J* — joins (§2.3)
# ---------------------------------------------------------------------------


def join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J1-J4 — equi-joins on one or more keys (py:180,192,207,248).

    ``broadcast_right=True`` forces a broadcast-hash join for dimension
    tables (patients, age-min dim); otherwise Catalyst/AQE picks
    broadcast vs sort-merge from size stats, splitting skewed partitions.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=list(on) if not isinstance(on, str) else on, how=how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (skewed) LEFT side's keys into
    ``salt`` sub-keys and replicate the right side once per salt value, so
    a hot key's rows spread over ``salt`` tasks instead of one straggler.

    AQE's skew-join split handles most cases at runtime
    (session.py enables it); this explicit form is for the pathological
    key that still overwhelms a single split, and as the documented
    pattern for engines without AQE. Result == plain ``join`` for the
    SUPPORTED join types: inner / left / left_semi / left_anti. Right and
    full-outer are rejected — the replicated right side would emit one
    null-padded row per unmatched salt value.
    """
    if how in ("right", "rightouter", "right_outer", "full", "outer", "fullouter", "full_outer"):
        raise ValueError(
            f"salted_join does not support how={how!r}: salt the other side "
            "(swap the inputs) or use a plain join with AQE skew handling"
        )
    keys = [on] if isinstance(on, str) else list(on)
    ls = left.withColumn("__salt", (F.rand(seed) * salt).cast("int"))
    rs = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return ls.join(rs, [*keys, "__salt"], how).drop("__salt")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J7 — complement by key (py:431 ``df.drop(df_test.index)``)."""
    return join(left, right, on, how="left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Semi-join (free with Spark's join API; SURVEY §2.3 note)."""
    return join(left, right, on, how="left_semi")


def positional_join(
    left: DataFrame,
    right: DataFrame,
    left_order: Sequence[str],
    right_order: Sequence[str],
    how: str = "inner",
    suffixes: tuple[str, str] = ("_caller", "_other"),
) -> DataFrame:
    """J5/J6 — pandas index-alignment joins (py:172, py:332) generalized.

    Spark has no row index, so positional semantics REQUIRE a deterministic
    order on each side: we number rows with ``row_number()`` over the given
    sort keys and equi-join on the position. (The engine avoids needing this
    — e.g. the pivot keeps its key (J5) and CountVectorizer emits a column
    (J6) — but the operator exists for parity.)

    J6: columns present on BOTH sides are disambiguated with ``suffixes``
    (pandas ``lsuffix``/``rsuffix`` parity, py:332).

    Scale note: positions are assigned DISTRIBUTED — never a global
    single-partition window. See :func:`global_index` (two-pass
    zipWithIndex-style numbering: range-partition by the sort keys, number
    locally, then add broadcast per-partition offsets).
    """
    overlap = set(left.columns) & set(right.columns)
    ls, rs = suffixes
    for c in overlap:
        left = left.withColumnRenamed(c, f"{c}{ls}")
        right = right.withColumnRenamed(c, f"{c}{rs}")
    lo = [f"{c}{ls}" if c in overlap else c for c in left_order]
    ro = [f"{c}{rs}" if c in overlap else c for c in right_order]
    ln = global_index(left, lo, out="__pos")
    rn = global_index(right, ro, out="__pos")
    return ln.join(rn, "__pos", how).drop("__pos")


def global_index(df: DataFrame, order: Sequence[str], out: str = "__pos") -> DataFrame:
    """1-based global position under ``order``, computed scale-out.

    Classic two-pass numbering (the DataFrame form of ``zipWithIndex``):

    1. range-repartition on the sort keys so partition i holds keys strictly
       below partition i+1 (RangePartitioner boundaries are deterministic
       for a given input, so both DAG branches below agree);
    2. sort within partitions + ``row_number`` over a PER-PARTITION window
       (no single-task bottleneck);
    3. per-partition row counts (tiny: one row per partition) -> cumulative
       offsets -> broadcast-join back and add.

    Ties in ``order`` get an arbitrary but valid permutation of positions,
    same contract as ``row_number`` over a non-unique order.
    """
    cols = [F.col(c) for c in order]
    sdf = (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = Window.partitionBy("__pid").orderBy(*cols)
    sdf = sdf.withColumn("__local", F.row_number().over(local))
    # offsets: #partitions rows — the orderBy window below is single-partition
    # but over that tiny frame only, then broadcast
    counts = sdf.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        sdf.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )


def partitioned_cumsum(
    df: DataFrame,
    order: Sequence[str],
    value_cols: Sequence[str],
    descending: bool = False,
    prefix: str = "cum_",
) -> DataFrame:
    """Global running sum of ``value_cols`` under ``order`` — distributed.

    Same two-pass shape as :func:`global_index`: range-partition on the sort
    keys, cumsum inside each partition with a PER-PARTITION window, then add
    broadcast per-partition offsets (one row per partition). No
    single-partition window regardless of input size — this is the substrate
    for ROC/PR curves (SURVEY §4.3 item 5).
    """
    sort_cols = [F.col(c).desc() if descending else F.col(c).asc() for c in order]
    sdf = (
        df.repartitionByRange(*sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        sdf = sdf.withColumn(f"{prefix}{c}", F.sum(c).over(w))
    totals = sdf.groupBy("__pid").agg(*[F.sum(c).alias(c) for c in value_cols])
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *[F.coalesce(F.sum(c).over(off_w), F.lit(0)).alias(f"__off_{c}") for c in value_cols],
    )
    out = sdf.join(F.broadcast(offsets), "__pid")
    for c in value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col(f"{prefix}{c}") + F.col(f"__off_{c}"))
    return out.drop("__pid", *[f"__off_{c}" for c in value_cols])


# ---------------------------------------------------------------------------
# W* — window functions (§2.4)
# ---------------------------------------------------------------------------


def _window(partition: Sequence[str], order: Sequence[str]):
    return Window.partitionBy(*partition).orderBy(*order)


def lead_col(
    df: DataFrame,
    col: str,
    partition: Sequence[str],
    order: Sequence[str],
    out: str | None = None,
    offset: int = 1,
) -> DataFrame:
    """W1/W2 — partitioned LEAD (py:43,45 ``groupby().shift(-1)``)."""
    return df.withColumn(out or f"next_{col}", F.lead(col, offset).over(_window(partition, order)))


def backfill(
    df: DataFrame,
    col: str,
    partition: Sequence[str],
    order: Sequence[str],
    out: str | None = None,
) -> DataFrame:
    """W4 — partitioned backward-fill (py:59 ``fillna(method='bfill')``):
    first non-null value at-or-after the current row."""
    w = _window(partition, order).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return df.withColumn(out or col, F.first(col, ignorenulls=True).over(w))


def forward_fill(
    df: DataFrame,
    col: str,
    partition: Sequence[str],
    order: Sequence[str],
    out: str | None = None,
) -> DataFrame:
    """ffill twin of W4 — last non-null value at-or-before the current row."""
    w = _window(partition, order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out or col, F.last(col, ignorenulls=True).over(w))


def last_per_group(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[str],
) -> DataFrame:
    """W5 — last row per group under an EXPLICIT order (py:245
    ``groupby().nth(-1)`` which leans on scan order; we require real sort
    keys + tiebreaker, SURVEY §2.4)."""
    w = _window(partition, [F.col(c).desc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def sort(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """W6 — multi-column sort (py:39). A global range-partitioned sort;
    inside the engine's plans ordering lives in window specs instead."""
    return df.orderBy(*cols)


# ---------------------------------------------------------------------------
# A* — aggregations (§2.5)
# ---------------------------------------------------------------------------


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """A1 — frequency table (py:95 ``value_counts()``)."""
    return df.groupBy(col).agg(F.count("*").alias("count"))


def count_distinct(df: DataFrame, col: str, approx: bool = False) -> DataFrame:
    """A2 — count-distinct (py:116); ``approx=True`` -> HLL sketch, the
    scale-out variant (no global shuffle of the full key set)."""
    agg = F.approx_count_distinct(col) if approx else F.countDistinct(col)
    return df.agg(agg.alias("n_distinct"))


def topk_by_freq(df: DataFrame, col: str, k: int) -> DataFrame:
    """A3 — k most frequent values (py:107 ``nlargest(5)``). Compiles to
    TakeOrderedAndProject: only k rows cross to the driver side of the plan.
    Deterministic tiebreak on the value itself."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.col(col))
        .limit(k)
    )


def null_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """A4 — per-column null counts in ONE pass (py:31-32)."""
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}") for c in cols]
    )


def conditional_counts(df: DataFrame, conds: dict[str, Column]) -> DataFrame:
    """A5 — named conditional counts in one pass (py:484-502's metric
    closures; all four confusion cells in a single aggregation)."""
    return df.agg(
        *[F.sum(F.when(cond, 1).otherwise(0)).alias(name) for name, cond in conds.items()]
    )


def group_min(df: DataFrame, keys: Sequence[str], col: str, out: str) -> DataFrame:
    """A6 — per-group min (py:199-200, first admission per patient)."""
    return df.groupBy(*keys).agg(F.min(col).alias(out))


def pivot_count(
    df: DataFrame, key: str, pivot_col: str, values: Sequence[str]
) -> DataFrame:
    """A8 — pivot to per-value count columns (py:164 stack+dummies+sum).

    Explicit ``values`` keeps it ONE pass (no extra distinct-scan job) and a
    stable output schema — required at scale and for oracle comparison.
    """
    out = df.groupBy(key).pivot(pivot_col, list(values)).count().na.fill(0)
    # count() leaves NULL for absent combos -> fill(0) matches the
    # reference's dense dummy matrix (py:164)
    return out


def prevalence(df: DataFrame, label: str) -> DataFrame:
    """A9/A10 — row count + label mean in one pass (py:433-435,455)."""
    return df.agg(
        F.count("*").alias("n"),
        F.round(F.avg(F.col(label).cast("double")), 4).alias("prevalence"),
    )


def histogram(df: DataFrame, col: str, bin_width: float, out: str = "bin") -> DataFrame:
    """A11 — fixed-width histogram (py:66 ``plt.hist(bins=range(0,365,30))``):
    engine computes the bins, rendering stays driver-side."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.floor(F.col(col) / F.lit(bin_width)).alias(out))
        .agg(F.count("*").alias("count"))
    )


def class_distribution(df: DataFrame, label: str) -> DataFrame:
    """A12 — label counts (py:686-687 ``Counter``)."""
    return value_counts(df, label)


# ---------------------------------------------------------------------------
# J9 / W7 — event-time composition operators (beyond-reference scale ops)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_vals: Sequence[str],
    *,
    allow_exact: bool = True,
    direction: str = "backward",
    ts_suffix: str = "_asof",
) -> DataFrame:
    """As-of (most-recent-prior) join: for each left row, attach the right
    row with the greatest ``right_ts`` <= ``left_ts`` within the same key
    (``direction="forward"``: smallest ``right_ts`` >= ``left_ts``).

    The reference has no cluster-scale analogue (pandas ``merge_asof`` is
    single-node); this is the training-pipeline "attach latest snapshot /
    prior interaction" primitive.

    Spark-first plan: NO range join and NO per-key explosion — both sides
    are union-tagged, shuffled ONCE on ``on``, and a single running
    ``last(..., ignorenulls=True)`` window carries the right-side values
    forward onto left rows. Cost is one shuffle + one sort regardless of
    match distance, so the plan survives 100 TB (contrast a range-join,
    whose candidate set grows with the time span).

    Determinism: ties on (key, ts) between right rows make the winner
    order-dependent (same as DuckDB ASOF); callers should ensure right
    (key, ts) uniqueness. Left vs right ties honor ``allow_exact``.
    """
    on = list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # ordering trick: right rows must sort BEFORE left rows at equal ts to
    # be visible to them (allow_exact), AFTER to be hidden (strict)
    right_side = 0 if allow_exact else 2
    l = left.withColumn("__ats", F.col(left_ts)).withColumn("__side", F.lit(1))
    r = right.select(
        *on,
        F.col(right_ts).alias("__ats"),
        *[F.col(c).alias(f"__r_{c}") for c in right_vals],
    ).withColumn("__side", F.lit(right_side))
    u = l.unionByName(r, allowMissingColumns=True)
    ats = F.col("__ats").asc() if direction == "backward" else F.col("__ats").desc()
    w = (
        Window.partitionBy(*on)
        .orderBy(ats, F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_right = F.col("__side") != 1
    out = u.withColumn(
        f"{right_ts}{ts_suffix}",
        F.last(F.when(is_right, F.col("__ats")), ignorenulls=True).over(w),
    )
    for c in right_vals:
        out = out.withColumn(
            f"{c}{ts_suffix}",
            F.last(F.when(is_right, F.col(f"__r_{c}")), ignorenulls=True).over(w),
        )
    return out.filter(F.col("__side") == 1).drop(
        "__ats", "__side", *[f"__r_{c}" for c in right_vals]
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str = "6 hours",
    session_col: str = "session_id",
) -> DataFrame:
    """W7 — batch sessionization: a new session starts when the gap to the
    previous event (same ``key``, event-time order) exceeds ``gap``.

    The streaming twin is ``streaming.ingest.sessionized_counts`` (Spark's
    ``session_window``); this is the batch/backfill path over historical
    parquet. One shuffle on ``key``; two windows share the same
    (partition, order) so Catalyst plans a single sort.

    Ties on (key, ts) land in the same session regardless of intra-tie
    order (gap 0), so results are partition-stable.
    """
    from ..streaming.ingest import parse_interval_us  # one canonical parser

    gap_us = F.lit(parse_interval_us(gap))
    w = Window.partitionBy(key).orderBy(ts)
    prev = F.lag(F.col(ts)).over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.unix_micros(F.col(ts)) - F.unix_micros(prev) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(session_col, F.sum(new_sess).over(wsum))


def session_stats(
    df: DataFrame,
    key: str,
    ts: str,
    gap: str = "6 hours",
) -> DataFrame:
    """W7 rollup — per-session event count, bounds, and duration."""
    s = sessionize(df, key, ts, gap=gap)
    return s.groupBy(key, "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        (F.unix_micros(F.max(ts)) - F.unix_micros(F.min(ts))).alias("duration_us"),
    )


def rolling_time_agg(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    window: str = "1 day",
    aggs: Sequence[str] = ("avg",),
    prefix: str = "roll_",
) -> DataFrame:
    """W8 — per-key rolling aggregate over a trailing EVENT-TIME window
    (``[ts - window, ts]``, boundary-inclusive on both ends).

    Spark's ``rangeBetween`` needs a numeric ordering column, so the frame
    orders on ``unix_micros(ts)`` — exact µs parity with SQL ``RANGE BETWEEN
    INTERVAL ... PRECEDING AND CURRENT ROW``. One shuffle on ``key``; all
    requested aggregates share the single sorted frame.
    """
    from ..streaming.ingest import parse_interval_us

    span = parse_interval_us(window)
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(ts)))
        .rangeBetween(-span, 0)
    )
    out = df
    for a in aggs:
        out = out.withColumn(f"{prefix}{a}", getattr(F, a)(F.col(value)).over(w))
    return out


def ntile_global(
    df: DataFrame, order: Sequence[str], n: int, out: str = "bucket"
) -> DataFrame:
    """W9 — SQL ``NTILE(n) OVER (ORDER BY ...)`` without the single-task
    global window.

    A naive ``Window.orderBy`` with no partition key is THE classic Spark
    scale-killer (every row through one task); this rides
    :func:`global_index` (range-partition + per-partition row_number +
    broadcast offsets) and then applies NTILE's exact bucket arithmetic:
    the first ``N mod n`` buckets get ``ceil(N/n)`` rows, the rest
    ``floor(N/n)`` — bit-identical to the SQL function for any N, n.
    """
    idx = global_index(df, order, out="__pos")
    total = df.count()  # scalar only — folded into the bucket expression
    r, small = total % n, total // n
    big = small + 1
    idx0 = F.col("__pos") - 1
    if small == 0:  # fewer rows than buckets: one row per leading bucket
        bucket = idx0 + 1
    else:
        bucket = F.when(idx0 < r * big, F.floor(idx0 / big) + 1).otherwise(
            r + F.floor((idx0 - r * big) / small) + 1
        )
    return idx.withColumn(out, bucket.cast("int")).drop("__pos")


def grouping_sets_agg(
    df: DataFrame,
    cols: Sequence[str],
    aggs: Sequence[Column],
    kind: str = "rollup",
    gid_col: str = "gid",
) -> DataFrame:
    """A15 — hierarchical (ROLLUP) / all-subsets (CUBE) aggregation in one
    pass with per-level `grouping_id` disambiguation.

    Spark expands grouping sets inside a single shuffle stage (partial
    aggregation per set, map-side combined) — the OLAP alternative to N
    separate groupBy jobs over the same scan. ``gid_col`` carries SQL
    ``GROUPING_ID()`` (bit i set = col i aggregated away) so an all-level
    consumer can distinguish a real NULL key from a rollup subtotal row.
    """
    if kind == "rollup":
        g = df.rollup(*cols)
    elif kind == "cube":
        g = df.cube(*cols)
    else:
        raise ValueError(f"kind must be rollup|cube, got {kind!r}")
    return g.agg(F.grouping_id().cast("long").alias(gid_col), *aggs)


def band_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    right_val: str,
    band: float,
    keys: Sequence[str] = (),
    bucket_width: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Keyless (or low-key) BAND JOIN — ``|left_val - right_val| <= band``
    — as an equi-join, the pattern that keeps a range predicate off the
    BroadcastNestedLoopJoin path.

    Naive Spark turns a pure range condition into a nested-loop join
    (O(|L|*|R|) comparisons — unrunnable at scale). Instead both sides
    are hashed to ``floor(val / bucket_width)`` grid cells; the left side
    probes its own cell and the two neighbors (an ``explode`` of 3 cell
    ids), so with ``bucket_width >= band`` every qualifying pair shares a
    probed cell. The join is then a plain shuffled HASH join on
    (keys..., cell) and the exact band predicate filters the candidates.
    Each qualifying pair meets exactly once (the right row has ONE cell),
    so no post-join dedup is needed.

    Cost scales with true selectivity: candidates ~= pairs within
    ~2*bucket_width, not |L|*|R|. Extra equi-``keys`` ride along in the
    join key.

    Floating-point contract: the exact predicate is SQL's BETWEEN form —
    ``right_val >= left_val - band AND right_val <= left_val + band`` —
    NOT ``abs(l - r) <= band``: the two differ in the last ulp when
    values sit exactly on band multiples, and BETWEEN is what every SQL
    engine (and this operator's oracle) evaluates. ``bucket_width``
    defaults to ``band * 17/16``: strictly wider than the band so the
    3-cell probe provably covers every BETWEEN-qualifying pair even when
    division rounding nudges a value across a cell boundary (for
    ``band == 0`` — exact equality — any positive width works; 1.0 is
    used).

    ``how``: ``inner`` | ``left`` | ``full``. Outer variants CANNOT ride
    the exploded equi-join directly (the explode triples unmatched left
    rows and the band filter then drops every null-extended row), so
    they are built compositionally: a row's matched-ness depends only on
    its (keys..., value) tuple, so the inner result is augmented with
    anti-joined unmatched rows — distinct matched probe tuples are
    computed once and unmatched originals (multiplicity preserved) are
    null-extended with the other side's schema.
    """
    if band < 0:
        raise ValueError(f"band_join: band must be >= 0, got {band}")
    if how not in ("inner", "left", "full"):
        raise ValueError(f"band_join: how must be inner|left|full, got {how!r}")
    if bucket_width is None:
        # band * 17/16 is 0 when band is 0, and floor(v / 0) is NULL in
        # non-ANSI Spark (every cell id NULL -> empty join). band == 0
        # means exact equality; any positive width is a valid grid.
        w = float(band * (17.0 / 16.0)) if band > 0 else 1.0
    else:
        w = float(bucket_width)
    if w <= 0:
        raise ValueError(f"band_join: bucket_width must be > 0, got {w}")
    if w < band:
        raise ValueError(
            f"band_join: bucket_width {w} < band {band} breaks the "
            "3-cell cover — qualifying pairs could be missed"
        )
    lcell = F.floor(F.col(left_val) / F.lit(w))
    ls = left.withColumn(
        "__cell", F.explode(F.array(lcell - 1, lcell, lcell + 1))
    )
    rs = right.withColumn("__cell", F.floor(F.col(right_val) / F.lit(w)))
    cond = [ls["__cell"] == rs["__cell"]] + [
        ls[k] == rs[k] for k in keys
    ]
    joined = ls.join(rs, cond, "inner")
    b = F.lit(float(band))
    inner = joined.filter(
        (rs[right_val] >= ls[left_val] - b) & (rs[right_val] <= ls[left_val] + b)
    ).drop("__cell")
    if how == "inner":
        return inner

    def _nulls(df: DataFrame) -> list[Column]:
        return [
            F.lit(None).cast(f.dataType).alias(f.name) for f in df.schema.fields
        ]

    def _unmatched(side: DataFrame, val: str, other: DataFrame, oval: str,
                   side_is_left: bool):
        """Rows of ``side`` with no band partner in ``other`` (multiplicity
        preserved): distinct (keys, val) probe tuples that DID match, then
        anti-join the originals against them. One banded probe over
        distinct tuples, never over full rows.

        The band predicate is evaluated in the SAME orientation as the
        inner filter — BETWEEN anchored on the LEFT value — whichever
        side is probing: the two orientations differ in the last ulp
        (docstring contract), and a flipped right-side probe would emit
        spurious (or drop genuine) null-extended rows under ``full``.
        """
        probe = side.select(*keys, val).distinct()
        pcell = F.floor(F.col(val) / F.lit(w))
        pe = probe.withColumn(
            "__cell", F.explode(F.array(pcell - 1, pcell, pcell + 1))
        )
        oe = other.withColumn("__cell", F.floor(F.col(oval) / F.lit(w)))
        mcond = [pe["__cell"] == oe["__cell"]] + [pe[k] == oe[k] for k in keys]
        if side_is_left:  # pe holds left values, oe right values
            band_pred = (oe[oval] >= pe[val] - b) & (oe[oval] <= pe[val] + b)
        else:  # pe holds RIGHT values: anchor BETWEEN on oe's left values
            band_pred = (pe[val] >= oe[oval] - b) & (pe[val] <= oe[oval] + b)
        matched = (
            pe.join(oe, mcond, "inner")
            .filter(band_pred)
            .select(*(pe[k] for k in keys), pe[val])
            .distinct()
        )
        acond = [side[k].eqNullSafe(matched[k]) for k in keys] + [
            side[val].eqNullSafe(matched[val])
        ]
        return side.join(matched, acond, "left_anti")

    out = inner
    left_miss = _unmatched(left, left_val, right, right_val, True)
    out = out.union(left_miss.select("*", *_nulls(right)))
    if how == "full":
        right_miss = _unmatched(right, right_val, left, left_val, False)
        out = out.union(right_miss.select(*_nulls(left), "*"))
    return out


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key: str | Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Warehouse MERGE (upsert) over immutable storage: rows present in
    ``updates`` overwrite the matching ``base`` rows' ``update_cols``;
    unmatched update rows are inserted; everything else passes through.

    The parquet-era MERGE INTO: a single FULL OUTER join on the key with
    column-wise COALESCE(update, base) — one shuffle (or a broadcast when
    the delta is small: the usual case, so callers may pass
    ``F.broadcast(updates)``). Deterministic and oracle-checkable, unlike
    sink-side upserts. ``update_cols`` defaults to every non-key column
    the two frames share; update columns absent from base are added.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if update_cols is None:
        update_cols = [
            c for c in updates.columns if c not in keys and c in base.columns
        ]
    up = updates.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in updates.columns if c not in keys],
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys]
    j = base.join(up, cond, "full_outer")
    out_cols = []
    for k in keys:
        out_cols.append(F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k))
    for c in base.columns:
        if c in keys:
            continue
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    for c in updates.columns:
        if c not in keys and c not in base.columns:
            out_cols.append(F.col(f"__u_{c}").alias(c))
    return j.select(*out_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    cell_width: float,
    keys: Sequence[str] = (),
    how: str = "inner",
    max_cells: int = 10_000,
) -> DataFrame:
    """J13 — POINT-IN-INTERVAL join — ``start <= point < end`` with
    per-row VARIABLE interval widths — as a bucketed equi-join.

    :func:`band_join` covers the symmetric fixed-band case; real
    range-join workloads (event-in-session, reading-in-validity-window,
    IP-in-CIDR-range) carry intervals whose widths differ per row, which
    a fixed 3-cell probe cannot cover. Here the INTERVAL side explodes
    into every grid cell it overlaps (``sequence(floor(start/w),
    floor(end/w))`` — variable length, proportional to interval width),
    the point side maps to its single cell, and the join is a plain
    shuffled hash join on (keys..., cell) + the exact half-open
    predicate. Each qualifying pair meets exactly once (the point has
    ONE cell).

    This is how Spark-era engines execute what DuckDB runs as an IEJoin:
    candidate count scales with true overlap density (points within
    ``cell_width`` of each interval), never |P|x|I|, and the plan stays
    off BroadcastNestedLoopJoin — the guard tested in tests/test_plans.

    ``cell_width`` trades explode factor (wide intervals -> many cells)
    against candidate precision (cells much wider than intervals ->
    more false candidates); set it near the TYPICAL interval width.
    ``max_cells`` bounds the per-row explode (a degenerate
    million-cell interval is a data bug, not a plan input): exceeding
    rows raise at execution via an ANSI-mode-independent guard column.

    ``how='left'`` preserves interval rows with zero contained points
    (null-extended point side) via the same distinct-probe anti-join
    pattern as ``band_join`` outer — matched-ness of an interval depends
    only on its (keys..., start, end) tuple.

    Timestamps: cast to epoch seconds / days first (the qdefs entry
    shows the ``datediff``-days form).
    """
    if cell_width <= 0:
        raise ValueError(f"interval_join: cell_width must be > 0, got {cell_width}")
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join: how must be inner|left, got {how!r}")
    w = F.lit(float(cell_width))

    def _cells(df: DataFrame) -> DataFrame:
        lo = F.floor(F.col(start_col) / w)
        hi = F.floor(F.col(end_col) / w)
        n = hi - lo + 1
        guarded_hi = F.when(n <= max_cells, hi)  # NULL -> sequence raises
        return df.withColumn(
            "__cell",
            F.explode(
                F.when(
                    F.col(end_col) > F.col(start_col),
                    F.sequence(lo, F.coalesce(guarded_hi, F.assert_true(
                        n <= max_cells,
                        f"interval_join: interval spans > {max_cells} cells; "
                        "raise cell_width or max_cells",
                    ).cast("long"))),
                ).otherwise(F.array().cast("array<long>")),
            ),
        )

    ie = _cells(intervals)
    ps = points.withColumn("__cell", F.floor(F.col(point_col) / w))
    cond = [ie["__cell"] == ps["__cell"]] + [ie[k] == ps[k] for k in keys]
    joined = ie.join(ps, cond, "inner").filter(
        (ps[point_col] >= ie[start_col]) & (ps[point_col] < ie[end_col])
    )
    # equi-``keys`` appear ONCE in the output (interval side): the
    # point-side copies are equal on matched rows and would be NULL on
    # outer-reattached rows — keeping both just creates ambiguous names
    inner = joined.drop("__cell", *(ps[k] for k in keys))
    if how == "inner":
        return inner

    probe = intervals.select(*keys, start_col, end_col).distinct()
    pm = _cells(probe)
    mcond = [pm["__cell"] == ps["__cell"]] + [pm[k] == ps[k] for k in keys]
    matched = (
        pm.join(ps, mcond, "inner")
        .filter((ps[point_col] >= pm[start_col]) & (ps[point_col] < pm[end_col]))
        .select(*(pm[k] for k in keys), pm[start_col], pm[end_col])
        .distinct()
    )
    acond = [intervals[k].eqNullSafe(matched[k]) for k in keys] + [
        intervals[c].eqNullSafe(matched[c]) for c in (start_col, end_col)
    ]
    miss = intervals.join(matched, acond, "left_anti")
    nulls = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in points.schema.fields
        if f.name not in keys  # point-side key copies are dropped above
    ]
    return inner.union(miss.select("*", *nulls))


def _deletion_neighborhood(col: Column, k: int) -> Column:
    """All strings reachable from ``col`` by deleting up to ``k``
    characters (the FastSS / SymSpell deletion neighborhood), as a
    distinct array. Pure JVM: k rounds of
    ``flatten(transform(..., delete one char))`` over the previous
    round, unioned and deduplicated — expression size is O(k),
    row fan-out C(m, k)."""
    acc = F.array(col)
    frontier = F.array(col)
    for _ in range(k):
        frontier = F.array_distinct(
            F.flatten(
                F.transform(
                    frontier,
                    lambda v: F.transform(
                        F.sequence(F.lit(1), F.greatest(F.length(v), F.lit(1))),
                        lambda i: F.concat(
                            F.substring(v, F.lit(1).cast("int"), (i - 1).cast("int")),
                            F.substring(
                                v, (i + 1).cast("int"), F.length(v).cast("int")
                            ),
                        ),
                    ),
                )
            )
        )
        acc = F.array_distinct(F.concat(acc, frontier))
    return acc


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
    dist_col: str = "dist",
) -> DataFrame:
    """J14 — edit-distance (fuzzy) string join ``levenshtein(l, r) <=
    max_dist`` via DELETION-NEIGHBORHOOD blocking (FastSS, Bocek et al.
    2007; the SymSpell scheme — public algorithms): the record-linkage /
    near-identical-name matcher that a naive engine plans as an
    O(|L|x|R|) nested loop with a levenshtein per pair.

    Completeness: ``lev(a, b) <= k`` implies the ``<= k``-deletion
    neighborhoods of ``a`` and ``b`` intersect (each edit is covered by
    deleting the character it touches on whichever side carries it). So
    both sides explode into their neighborhoods and candidates come
    from a plain shuffled hash EQUI-join on the variant string,
    deduplicated per pair, with the exact ``levenshtein`` predicate as
    the final filter.

    Why not positional segment blocking (PassJoin): corpora of
    templated identifiers ("Customer#000000042") share long constant
    prefixes, so any position-based segment key degenerates into one
    hot block containing every row — a disguised cross join. Deletion
    variants keep (m - k) characters of content in the key, so two
    strings only collide when they genuinely almost match; the hot-key
    failure mode is gone by construction.

    Scale contract: the variant explode and equi-join run over the
    DISTINCT string values only — the exchanges carry (variant, string)
    pairs of ~m chars, never row payloads; qualifying string PAIRS
    (exact-filtered, distinct) are then equi-joined back onto both full
    frames, so wide rows cross exactly two ordinary hash joins (pair
    side is match-density-small — AQE broadcasts it). Row fan-out on
    the distinct strings is C(m, k) variants — built for SHORT strings
    (names, titles, SKUs, addresses; m up to a few hundred). For
    long-document near-duplicate detection use the MinHash / SimHash
    operators (dedup.py) instead — that is the published division of
    labor. Output has theta-join multiplicity (duplicate rows pair like
    the naive predicate would). Column names of ``left`` and ``right``
    must be disjoint.
    """
    if not 1 <= max_dist <= 3:
        raise ValueError(f"fuzzy_join: max_dist must be in 1..3, got {max_dist}")
    k = max_dist
    lv = left.select(left_col).distinct().select(
        left_col,
        F.explode(_deletion_neighborhood(F.col(left_col), k)).alias("__var"),
    )
    rv = right.select(right_col).distinct().select(
        right_col,
        F.explode(_deletion_neighborhood(F.col(right_col), k)).alias("__var"),
    )
    dist = F.levenshtein(F.col(left_col), F.col(right_col))
    pairs = (
        lv.join(rv, "__var")
        .drop("__var")
        .distinct()
        .filter(dist <= k)
        .withColumn(dist_col, dist.cast("int"))
    )
    return left.join(pairs, left_col).join(right, right_col)


def rolling_median(
    df: DataFrame,
    value_col: str,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    preceding: int = 6,
    out: str = "rolling_median",
) -> DataFrame:
    """W13 — EXACT rolling median over a bounded row frame
    ``[preceding PRECEDING, CURRENT ROW]`` — the robust-trend smoother
    (rolling mean is skew-fragile; ops dashboards and sensor pipelines
    median-filter instead).

    Spark has no median window aggregate, but for a BOUNDED frame the
    exact median is a small-array computation: ``collect_list`` over the
    frame (<= preceding+1 values), ``sort_array``, pick/average the
    middle — all JVM, one partitioned window, no UDF. NULL values are
    skipped (collect_list drops them), matching SQL aggregate-median
    semantics over the same frame. Even-sized frames average the two
    middle values as ``(a + b) / 2`` — note for oracle parity that a
    quantile-interpolating engine computes ``a + 0.5 * (b - a)``, which
    can differ in the last ulp; compare rounded.

    Frame size bounds memory per row at ``preceding + 1`` values — safe
    at any corpus size; the single shuffle is the partitioned window's.
    """
    if preceding < 0:
        raise ValueError(f"rolling_median: preceding must be >= 0, got {preceding}")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(-preceding, 0)
    )
    arr = F.sort_array(F.collect_list(F.col(value_col)).over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    med = F.when(n > 0, (lo + hi) / 2.0)
    return df.withColumn(out, med)


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    bar: str = "5 minutes",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """W14 — time-bar downsampling (OHLC + volume): bucket events into
    fixed windows and emit open/high/low/close/count per (keys, bar) —
    the metrics/market-data resample every time-series store ships.

    Pure single-shuffle aggregation: ``window(ts, bar)`` assigns the
    bucket map-side, then ONE partial-aggregated groupBy computes all
    five measures; open/close are ``min_by``/``max_by`` on the event
    time (with ``tiebreak_col`` breaking equal timestamps
    deterministically — REQUIRED for engine-independent results when
    timestamps can tie). No window function, no sort: at 100 TB this is
    a plain keyed aggregation.

    NULL ``value_col`` rows are dropped up front: min_by/max_by would
    otherwise let a NULL-valued row win the (ts, tiebreak) ordering and
    emit a NULL open/close while high/low/n skip NULLs — an
    inconsistent row set. A bar whose events are ALL NULL-valued
    therefore does not appear (matching SQL aggregate semantics where
    n would be 0).
    """
    df = df.filter(F.col(value_col).isNotNull())
    b = F.window(F.col(ts_col), bar)
    order = F.struct(
        F.col(ts_col),
        *( [F.col(tiebreak_col)] if tiebreak_col else [] ),
    )
    return (
        df.groupBy(*keys, b.alias("__w"))
        .agg(
            F.min_by(F.col(value_col), order).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), order).alias("close"),
            F.count(value_col).cast("long").alias("n"),
        )
        .select(
            *keys,
            F.col("__w.start").alias("bar_start"),
            "open", "high", "low", "close", "n",
        )
    )


def apply_agg_changes(
    view: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    count_col: str = "n",
    sum_col: str = "total",
) -> DataFrame:
    """INCREMENTAL materialized-view maintenance: fold a change-data-feed
    (``_change_type`` in {'insert','delete'} — SnapshotTable.read_changes'
    shape) into an existing per-key (count, sum) aggregate WITHOUT
    rescanning the base table.

    count and sum are the self-maintainable aggregates (deletes subtract);
    the delta aggregates to per-key (dn, dv) first — one key-bounded
    shuffle over the CHANGES, never the base — then full-outer-merges with
    the view, dropping keys whose count reaches zero. Min/max are NOT
    self-maintainable under deletes (a deleted max needs a rescan) and are
    deliberately absent.

    EXACTNESS: pass an EXACT value type (integer cents, DECIMAL) —
    integer/decimal addition is associative, so incremental maintenance
    is bit-identical to a full recompute at any depth of deltas. Float
    sums are not associative: ``view + delta - delta`` drifts in the last
    ulp (allowed, but then compare rounded). An unknown ``_change_type``
    fails the job loudly (assert column).
    """
    ks = list(keys)
    # the guard lives INSIDE the sign expression (a standalone assert
    # column would be pruned by Catalyst as unused and never evaluate)
    sign = (
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .when(F.col("_change_type") == "delete", F.lit(-1))
        .otherwise(
            F.assert_true(
                F.lit(False),
                F.concat(
                    F.lit("apply_agg_changes: bad _change_type "),
                    F.col("_change_type"),
                ),
            ).cast("int")
        )
    )
    delta = (
        changes.withColumn("__s", sign)
        .groupBy(*ks)
        .agg(
            F.sum("__s").cast("long").alias("__dn"),
            F.sum(F.col("__s") * F.col(value_col)).alias("__dv"),
        )
    )
    v = view.select(
        *[F.col(k).alias(f"__k_{k}") for k in ks], count_col, sum_col
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in ks]
    merged = delta.join(v, cond, "full_outer").select(
        *[F.coalesce(F.col(f"__k_{k}"), F.col(k)).alias(k) for k in ks],
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col("__dn"), F.lit(0))
        ).cast("long").alias(count_col),
        (
            F.coalesce(F.col(sum_col), F.lit(0))
            + F.coalesce(F.col("__dv"), F.lit(0))
        ).alias(sum_col),
    )
    return merged.filter(F.col(count_col) > 0)


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    step_sec: int,
    ndigits: int = 6,
    max_buckets_per_key: int = 1_000_000,
) -> DataFrame:
    """Time-series RESAMPLE + gap-fill: per key, a REGULAR epoch-second
    grid (``step_sec`` buckets spanning that key's observed range) with
    the bucket-mean value, empty buckets forward-filled from the last
    observed bucket — pandas ``resample(...).mean().ffill()`` for
    distributed data.

    Plan: one groupBy to per-(key, bucket) means (map-side combinable —
    the only pass over the raw data), a per-key span agg over those
    BUCKET rows (not raw rows), grid generation via
    ``sequence``+``explode`` (bounded by ``max_buckets_per_key`` — a
    years-long span at 1s steps is a parameter bug, caught at execution
    via the sequence guard), then the existing :func:`forward_fill`
    window. Every shuffle is keyed by ``keys`` (+bucket); nothing scales
    with the raw row count after the first aggregate.

    The bucket mean is rounded to ``ndigits`` BEFORE filling so the
    propagated value is bit-stable across engines (float sum order).
    Leading buckets with no prior observation stay NULL (nothing to fill
    from) — by construction only possible when a key's first bucket is
    empty, which the min-span start precludes.
    """
    ks = list(keys)
    if step_sec <= 0:
        raise ValueError(f"resample_ffill: step_sec must be > 0, got {step_sec}")
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / step_sec) * step_sec).cast(
        "long"
    )
    obs = (
        df.withColumn("__b", bucket)
        .groupBy(*ks, "__b")
        .agg(F.round(F.avg(value_col), ndigits).alias("__v"))
    )
    spans = obs.groupBy(*ks).agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
    )
    n_buckets = (F.col("__hi") - F.col("__lo")) / F.lit(step_sec) + 1
    guarded_hi = F.when(n_buckets <= max_buckets_per_key, F.col("__hi"))
    grid = spans.select(
        *ks,
        F.explode(
            F.sequence(
                F.col("__lo"),
                F.coalesce(
                    guarded_hi,
                    F.assert_true(
                        n_buckets <= max_buckets_per_key,
                        f"resample_ffill: a key spans > {max_buckets_per_key} "
                        "buckets; raise step_sec or max_buckets_per_key",
                    ).cast("long"),
                ),
                F.lit(int(step_sec)),
            )
        ).alias("__b"),
    )
    j = grid.join(obs, [*ks, "__b"], "left")
    filled = forward_fill(j, "__v", ks, ["__b"])
    return filled.select(
        *ks, F.col("__b").alias("bucket"), F.col("__v").alias(value_col)
    )
