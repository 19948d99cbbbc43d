"""Similarity search over embedding columns (north-star surface).

Two tiers:

- BRUTE-FORCE cosine top-k — the exact baseline: dot products as
  ``zip_with`` + ``aggregate`` (JVM-side, whole-stage codegen; no UDF),
  top-k via ``orderBy().limit(k)`` which compiles to
  TakeOrderedAndProject (per-partition heaps, no global sort);
- LSH-bucketed ANN — the scale path: BucketedRandomProjectionLSH over
  L2-normalized vectors; candidates from bucket collisions, then exact
  re-ranking of candidates only. At 100 TB the brute force scans
  everything per query (fine for batch scoring of a few probes); the LSH
  path bounds work per probe by collision counts.

Probe sets are small by nature (human queries / eval sets) -> broadcast.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import kernel_on_driver, local_frame, pandas_kernel


def dot(a: Column, b: Column) -> Column:
    """Elementwise product + sum, all JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def l2_normalize(a: Column) -> Column:
    """Unit-normalize an array column; NULL for zero vectors."""
    n = l2_norm(a)
    return F.when(n > 0, F.transform(a, lambda v: v / n))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def tune_brp_params(
    left: DataFrame,
    array_col: str,
    k: int = 3,
    right: DataFrame | None = None,
    sample_n: int = 1000,
    quantile: float = 1.0,
    margin: float = 1.1,
    seed: int = 42,
) -> tuple[float, float]:
    """Estimate ``(threshold, bucket_length)`` for :func:`brp_knn_pairs`
    from the data instead of hand-measured constants.

    Samples up to ``sample_n`` rows per side (TakeOrdered on a rand key —
    per-partition heaps, one scan, no global sort), computes each sampled
    left row's k-th-nearest-neighbor distance to the right sample
    driver-side (numpy over <=1e6 pairs), and returns

    - ``threshold``  = the ``quantile`` of those k-th-NN distances times
      ``margin`` — large enough that (at the sampled quantile) every row
      keeps its true kNN inside the LSH similarity join, small enough
      that far pairs are pruned before the exact re-rank;
    - ``bucket_length`` = threshold / 3.5 — buckets just under the
      kNN-distance scale (the ratio the hand-measured constants this
      replaces were using; wider buckets inflate candidate counts faster
      than they add recall).

    Self-kNN (``right is None``) excludes the zero self-distance. Cost:
    one scan per side + O(sample_n^2 * dim) driver flops — a tuning pass,
    run once per corpus, not per query.
    """
    import numpy as np

    def _sample(df: DataFrame) -> np.ndarray:
        rows = (
            df.select(F.col(array_col).cast("array<double>").alias("__a"))
            .filter(F.col("__a").isNotNull())
            .orderBy(F.rand(seed))
            .limit(sample_n)
            .collect()
        )
        return np.asarray([r["__a"] for r in rows], dtype=float)

    xl = _sample(left)
    xr = xl if right is None else _sample(right)
    if len(xl) == 0 or len(xr) == 0:
        raise ValueError("tune_brp_params: empty sample — no non-null arrays")
    d2 = (
        (xl * xl).sum(axis=1)[:, None]
        + (xr * xr).sum(axis=1)[None, :]
        - 2.0 * (xl @ xr.T)
    )
    np.maximum(d2, 0.0, out=d2)
    if right is None:
        np.fill_diagonal(d2, np.inf)
    kk = min(k, d2.shape[1] - (1 if right is None else 0))
    if kk <= 0:
        kk = 1
    kth = np.sqrt(np.sort(d2, axis=1)[:, kk - 1])
    kth = kth[np.isfinite(kth)]
    thr = float(np.quantile(kth, quantile)) * margin if len(kth) else 1.0
    thr = max(thr, 1e-6)
    return thr, thr / 3.5


def brp_knn_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    array_col: str,
    dim: int,
    k: int = 3,
    threshold: float = 2.0,
    bucket_length: float = 1.0,
    n_tables: int = 5,
    seed: int = 42,
    probe_adjacent: bool = True,
) -> DataFrame:
    """DataFrame-native BRP-LSH k-nearest-neighbor pairs — the engine's
    fast path under SMOTE / NearMiss / cosine dedup.

    Same theory as MLlib's BucketedRandomProjectionLSH (hash =
    floor(<v, r_t>/bucketLength) per random projection r_t; candidates
    collide in >=1 table) but as plain column expressions: the projection
    vectors are LITERALS baked into the plan, distances are ``zip_with``
    arithmetic, and no vector UDTs ever cross an Arrow/serialization
    boundary (~3x faster than the MLlib join at sf0.1).

    ``probe_adjacent`` multiprobes the left side's neighboring buckets
    (key±1), recovering pairs that straddle a bucket boundary.

    Returns (a_id, b_id, dist) with self-pairs removed, at most k
    right-neighbors per left row (deterministic tiebreak on b_id).
    """
    import random

    rng = random.Random(seed)
    projs = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_tables)]

    def hashed(df: DataFrame, side: str, probe: bool) -> DataFrame:
        entries = []
        arr = F.col(array_col).cast("array<double>")
        for t, r in enumerate(projs):
            rlit = F.array(*[F.lit(float(x)) for x in r])
            h = F.floor(dot(arr, rlit) / F.lit(float(bucket_length)))
            deltas = (-1, 0, 1) if probe else (0,)
            for d in deltas:
                entries.append(
                    F.struct(F.lit(t).alias("t"), (h + F.lit(d)).alias("key"))
                )
        # ids only through the candidate shuffle: carrying the vectors here
        # multiplies shuffle bytes by dim; they are re-fetched AFTER the
        # (a_id, b_id) dedup from the (small, typically cached) inputs
        return df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.explode(F.array(*entries)).alias("tk"),
        ).select(f"{side}_id", "tk.t", "tk.key")

    a = hashed(left, "a", probe_adjacent)
    b = hashed(right, "b", False)
    cand = (
        a.join(b, ["t", "key"])
        .filter(F.col("a_id") != F.col("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    arr = F.col(array_col).cast("array<double>")
    la = left.select(F.col(id_col).alias("a_id"), arr.alias("__arr_a"))
    rb = right.select(F.col(id_col).alias("b_id"), arr.alias("__arr_b"))
    scored = (
        cand.join(la, "a_id")
        .join(rb, "b_id")
        .select(
            "a_id", "b_id", euclidean(F.col("__arr_a"), F.col("__arr_b")).alias("dist")
        )
        .filter(F.col("dist") <= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy("dist", "b_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("a_id", "b_id", "dist", F.col("__rn").alias("rank"))
    )


def knn_join_broadcast(
    big: DataFrame,
    small: DataFrame,
    id_col: str,
    array_col: str,
    k: int = 3,
    small_id_col: str | None = None,
    small_array_col: str | None = None,
    exclude_self: bool = False,
    max_small_rows: int = 2_000_000,
) -> DataFrame:
    """EXACT k-nearest-neighbors of every ``big`` row against the whole
    ``small`` table, via broadcast + Arrow-batched BLAS (``mapInPandas``).

    This is the right physical strategy whenever one side is bounded (a
    minority class under SMOTE/NearMiss, an eval probe set, a centroid
    table): the small side is collected ONCE, broadcast to every executor,
    and each Arrow batch of the big side computes all pairwise distances
    as one numpy matmul — no shuffle, no candidate join, linear scan of
    the big side only. At 1000 executors the big side streams in parallel
    and the broadcast is the only data movement. When the big side's
    input plus output fits under Spark's broadcast bound, the same kernel
    runs on the driver instead (:func:`~..session.pandas_kernel`), with
    no broadcast and no Python worker; a self-join (SMOTE) feeds it the
    rows already collected.

    Contrast with :func:`brp_knn_pairs` (LSH): on corpora whose kNN
    distance approaches the background pair distance (e.g. near-uniform
    unit vectors) LSH candidate sets degrade toward all-pairs; the
    broadcast path's cost is flat and the result is exact.

    ``max_small_rows`` guards the collect: SMOTE/NearMiss semantics
    require the minority class to be enumerable; refuse loudly past the
    bound instead of OOMing the driver.

    Returns (a_id, b_id, dist, rank) — rank 1..k by (dist, b_id), the
    same deterministic tiebreak as the LSH path. Id columns may be any
    integral or string type (the output schema mirrors them: integral ->
    long, string -> string); other id types raise rather than silently
    corrupting through a hardcoded int64 cast.
    """
    import numpy as np
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    def _id_kind(df: DataFrame, col: str) -> tuple[str, object]:
        dt = df.select(F.col(col)).schema[0].dataType
        if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            return "long", np.int64
        if isinstance(dt, StringType):
            return "string", np.str_
        raise ValueError(
            f"knn_join_broadcast: id column {col!r} has unsupported type "
            f"{dt.simpleString()}; integral or string ids only"
        )

    s_id = small_id_col or id_col
    s_arr = small_array_col or array_col
    a_ddl, _a_np = _id_kind(big, id_col)
    b_ddl, b_np = _id_kind(small, s_id)
    # ONE bounded job: limit(max+1) caps what can ever reach the driver,
    # so the guard needs no separate count() pass
    rows = (
        small.select(F.col(s_id).alias("i"), F.col(s_arr).cast("array<double>").alias("a"))
        .filter(F.col("a").isNotNull())
        .limit(max_small_rows + 1)
        .collect()
    )
    if len(rows) == 0:
        raise ValueError("knn_join_broadcast: small side is empty")
    if len(rows) > max_small_rows:
        raise ValueError(
            f"knn_join_broadcast: small side exceeds "
            f"max_small_rows={max_small_rows}; broadcast-exact kNN needs a "
            "bounded reference set — use brp_knn_pairs for big-big kNN"
        )
    ids = np.asarray([r["i"] for r in rows], dtype=b_np)
    S = np.asarray([r["a"] for r in rows], dtype=np.float64)
    s_sq = (S * S).sum(axis=1)
    kk = int(k)
    excl = bool(exclude_self)
    src = big.select(
        F.col(id_col).alias("__id"),
        F.col(array_col).cast("array<double>").alias("__arr"),
    ).filter(F.col("__arr").isNotNull())
    # input plus output bytes: the big side's Spark size statistic (the
    # collected rows themselves for a self-join), and k (a_id, b_id,
    # dist, rank) rows per big row
    row_b = 8 * (S.shape[1] + 1)
    self_join = big is small and id_col == s_id and array_col == s_arr
    n_big = len(rows) if self_join else int(
        src._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ) // row_b
    est = n_big * (row_b + kk * 28)
    # on the driver the kernel reads the matrix from its closure; only
    # executor tasks need it broadcast
    held, bc = (ids, S, s_sq), None
    if not kernel_on_driver(big.sparkSession, est):
        held, bc = None, big.sparkSession.sparkContext.broadcast(held)

    def gen(batches):
        import pandas as pd

        b_ids, b_S, b_sq = held if bc is None else bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(list(pdf["__arr"]), dtype=np.float64)
            x_sq = (X * X).sum(axis=1)
            d2 = x_sq[:, None] + b_sq[None, :] - 2.0 * (X @ b_S.T)
            np.maximum(d2, 0.0, out=d2)
            a_ids = pdf["__id"].to_numpy()
            if excl:
                d2[a_ids[:, None] == b_ids[None, :]] = np.inf
            take = min(kk, d2.shape[1])
            # partial-select then exact (dist, b_id) ordering of the k kept
            part = np.argpartition(d2, take - 1, axis=1)[:, :take]
            out_a, out_b, out_d, out_r = [], [], [], []
            for i in range(d2.shape[0]):
                cand = part[i]
                order = np.lexsort((b_ids[cand], d2[i, cand]))
                sel = cand[order]
                keep = d2[i, sel] < np.inf
                sel = sel[keep]
                m = len(sel)
                out_a.append(np.full(m, a_ids[i]))
                out_b.append(b_ids[sel])
                out_d.append(np.sqrt(d2[i, sel]))
                out_r.append(np.arange(1, m + 1))
            if out_a:
                yield pd.DataFrame(
                    {
                        "a_id": np.concatenate(out_a),
                        "b_id": np.concatenate(out_b),
                        "dist": np.concatenate(out_d),
                        "rank": np.concatenate(out_r).astype(np.int32),
                    }
                )

    return pandas_kernel(
        src, gen, f"a_id {a_ddl}, b_id {b_ddl}, dist double, rank int",
        est_bytes=est,
        spec=[(r["i"], r["a"]) for r in rows] if self_join else None,
    )


def topk_bruteforce(
    df: DataFrame,
    id_col: str,
    array_col: str,
    query: Sequence[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k for ONE probe vector (a literal broadcast into
    the plan — no join at all). Deterministic tiebreak on id."""
    q = F.array(*[F.lit(float(v)) for v in query])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(array_col).cast("array<double>"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def cell_radii(assigned: DataFrame, centers, array_col: str = "__arr") -> list[float]:
    """Per-cell angular radius of an IVF assignment: the max angle between
    a cell's (unit) members and its unit-normalized centroid — ONE
    broadcast join + one aggregate over the corpus, n_cells scalars out.

    With radii in hand a query can PROVE exactness: no member of cell c
    can exceed cosine ``cos(max(0, angle(q, centroid_c) - radius_c))``,
    so probing stops as soon as the running k-th cosine beats every
    unprobed cell's bound (triangle inequality on the sphere)."""
    import math

    import numpy as np

    spark = assigned.sparkSession
    cn = [np.asarray(c, dtype=float) for c in centers]
    cn = [c / (np.linalg.norm(c) or 1.0) for c in cn]
    cent_df = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cn)],
        "__cell int, __cent array<double>",
    )
    mins = (
        assigned.join(F.broadcast(cent_df), "__cell")
        .groupBy("__cell")
        .agg(F.min(dot(F.col(array_col), F.col("__cent"))).alias("__min_cos"))
        .collect()
    )
    radii = [0.0] * len(cn)
    for r in mins:
        radii[r["__cell"]] = math.acos(max(-1.0, min(1.0, r["__min_cos"])))
    return radii


def _cells_by_bound(centers, radii, query) -> list[tuple[int, float]]:
    """(cell, cosine upper bound) sorted best-first for a query vector."""
    import math

    import numpy as np

    qv = np.asarray(query, dtype=float)
    qn = qv / (np.linalg.norm(qv) or 1.0)
    out = []
    for i, c in enumerate(centers):
        cv = np.asarray(c, dtype=float)
        cvn = cv / (np.linalg.norm(cv) or 1.0)
        theta = math.acos(max(-1.0, min(1.0, float(qn @ cvn))))
        out.append((i, math.cos(max(0.0, theta - radii[i]))))
    out.sort(key=lambda t: -t[1])
    return out


#: rounding quantum guard: output cosines are rounded to 6 decimals, so a
#: bound within half an ulp of the k-th value could still tie after
#: rounding and win on id — probe those cells too
_BOUND_EPS = 1e-6

#: centroid-fit sample cap: KMeans centroids are FIT on at most this many
#: rows (then the full corpus is assigned) — the standard IVF build at
#: scale, and on small corpora it kills MLlib's per-iteration job
#: overhead by coalescing. Cluster quality only affects the SCAN
#: FRACTION, never correctness: the radius bound guarantees exact top-k.
_KMEANS_FIT_SAMPLE = 100_000


def _fit_centroids(
    norm: DataFrame, array_col: str, n_cells: int, seed: int,
    max_iter: int = 10, n: int | None = None,
) -> list[list[float]]:
    """Lloyd's k-means on a bounded uniform sample, DRIVER-side numpy.

    The sample is capped at ``_KMEANS_FIT_SAMPLE`` rows (<= ~50 MB at
    dim 64), so the fit is two Spark jobs total (count + collect) and a
    vectorized matmul loop — instead of MLlib's one-job-per-iteration
    (~20 scheduler round-trips to cluster 16 cells). This is the
    standard IVF build shape at any scale: centroids from a sample,
    ASSIGNMENT of the full corpus distributed (:func:`assign_cells`).
    Cluster quality only affects the scan fraction, never correctness
    (the radius bound proves exact top-k)."""
    import numpy as np

    if n is None:
        n = norm.count()
    src = norm.select(F.col(array_col).alias("__a"))
    if n > _KMEANS_FIT_SAMPLE:
        src = src.sample(fraction=_KMEANS_FIT_SAMPLE / n, seed=seed).limit(
            _KMEANS_FIT_SAMPLE
        )
    X = np.asarray([r["__a"] for r in src.collect()], dtype=np.float64)
    if len(X) == 0:
        raise ValueError(
            "_fit_centroids: no non-null vectors to cluster — check the "
            "array column and upstream filters"
        )
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(X))
    cents = X[rng.choice(len(X), size=k, replace=False)]
    x2 = (X * X).sum(axis=1)
    for _ in range(max_iter):
        c2 = (cents * cents).sum(axis=1)
        lab = (c2[None, :] - 2.0 * (X @ cents.T)).argmin(axis=1)
        new = np.empty_like(cents)
        for c in range(k):
            m = lab == c
            new[c] = X[m].mean(axis=0) if m.any() else cents[c]
        if np.allclose(new, cents):
            cents = new
            break
        cents = new
    _ = x2  # row norms drop out of the argmin; kept for clarity
    return [[float(v) for v in c] for c in cents]


def assign_cells(
    df: DataFrame, array_col: str, centroids, out: str = "__cell"
) -> DataFrame:
    """Distributed IVF cell assignment: nearest centroid per row via one
    numpy matmul per Arrow batch (vectorized ``pandas_udf``, centroids
    broadcast). All input columns pass through — and, unlike the
    mapInPandas shape this replaces, only ``array_col`` crosses the
    Python boundary (guide §4.1: an opaque whole-frame function ships
    every column; a pandas_udf ships exactly its inputs — the raw
    ``__orig`` vectors riding these frames stay JVM-side). Adds ``out``
    (int cell id)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    bc = df.sparkSession.sparkContext.broadcast((C, c2))

    def _nearest(arrs):
        C, c2 = bc.value
        if len(arrs) == 0:
            return pd.Series([], dtype="int32")
        X = np.asarray(list(arrs), dtype=np.float64)
        # ||v||^2 is constant per row — argmin needs only the cross term
        return pd.Series(
            (c2[None, :] - 2.0 * (X @ C.T)).argmin(axis=1).astype("int32")
        )

    # eager annotations: the module's `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf's
    # type-hint inference cannot resolve against a locally-imported pd
    _nearest.__annotations__ = {"arrs": pd.Series, "return": pd.Series}
    nearest_cell = pandas_udf(_nearest, "int")
    return df.withColumn(out, nearest_cell(F.col(array_col)))


def topk_ivf(
    df: DataFrame,
    id_col: str,
    array_col: str,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
):
    """IVF-Flat top-k: KMeans-partition the corpus into ``n_cells``
    inverted lists, probe the cells with the best cosine UPPER BOUND
    (centroid angle minus cell radius), exact-rank only their members —
    then probe any remaining cell whose bound still beats the running
    k-th cosine. The result is therefore PROVABLY the exact top-k at any
    corpus; ``n_probe`` is only the initial batch size. Typical scan
    fraction stays n_probe/n_cells — the second phase is empty unless the
    query sits near a cell boundary.

    The scale path for repeated queries: cell assignment is computed once
    (and in production persisted, partitioned BY cell so a probe prunes
    file partitions — see build_ivf_index/topk_ivf_indexed).
    Centroids + radii are tiny (n_cells x dim + n_cells) — driver-side.
    """
    norm = df.select(
        F.col(id_col),
        F.col(array_col).alias("__orig"),
        l2_normalize(F.col(array_col)).cast("array<double>").alias("__arr"),
    ).filter(F.col("__arr").isNotNull())
    centers = _fit_centroids(norm, "__arr", n_cells, seed)
    assigned = assign_cells(norm, "__arr", centers).cache()
    try:
        radii = cell_radii(assigned, centers)
        bounds = _cells_by_bound(centers, radii, query)
        probe = [c for c, _ in bounds[:n_probe]]

        def probe_cells(cells):
            cand = assigned.filter(F.col("__cell").isin(cells))
            return topk_bruteforce(
                cand.select(id_col, F.col("__orig").alias(array_col)),
                id_col, array_col, query, k,
            )

        first = probe_cells(probe)
        rows = first.collect()
        kth = rows[-1]["cosine"] if len(rows) >= k else -1.0
        rest = [c for c, ub in bounds[n_probe:] if ub >= kth - _BOUND_EPS]
        if rest:
            rows = probe_cells(probe + rest).collect()
        # tiny k-row result: rebuild from the collected rows rather than
        # leaving the caller a plan over the (about to be unpersisted)
        # assignment
        return local_frame(df.sparkSession, rows, first.schema)
    finally:
        assigned.unpersist()


def topk_lsh(
    df: DataFrame,
    id_col: str,
    array_col: str,
    query: Sequence[float],
    k: int = 10,
    bucket_length: float = 0.5,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k for one probe: BRP-LSH ``approxNearestNeighbors`` over
    normalized vectors (probes the model's buckets, expanding outward),
    re-ranked by exact cosine. Approximate — recall measured against the
    brute force in tests/qdefs."""
    import numpy as np
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    norm = df.select(
        F.col(id_col), l2_normalize(F.col(array_col)).alias("__arr")
    ).filter(F.col("__arr").isNotNull())
    vec = norm.withColumn("__v", array_to_vector(F.col("__arr").cast("array<double>")))
    # fit + the kNN probe each traverse the vectors; cache once
    vec = vec.cache()
    brp = BucketedRandomProjectionLSH(
        inputCol="__v", outputCol="__h", bucketLength=bucket_length,
        numHashTables=num_hash_tables, seed=seed,
    )
    model = brp.fit(vec)
    qv = np.asarray(query, dtype=float)
    qn = qv / (np.linalg.norm(qv) or 1.0)
    ann = model.approxNearestNeighbors(vec, Vectors.dense(qn), k, distCol="__d")
    return ann.select(
        F.col(id_col),
        F.round(1.0 - F.col("__d") * F.col("__d") / 2.0, 6).alias("cosine"),
    )


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    array_col: str,
    path: str,
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[list[list[float]], list[float]]:
    """Materialize the IVF-Flat index :func:`topk_ivf` describes: assign
    KMeans cells ONCE and persist the corpus as parquet PARTITIONED BY
    cell, so every later probe prunes to a few cell partitions at the
    scan (PartitionFilters — no full-corpus read per query, the actual
    100 TB serving path). Returns ``(centroids, radii)`` (n_cells x dim
    + n_cells scalars — tiny; callers keep them driver-side or in any KV
    store); the radii let the serving path prove result exactness
    (:func:`cell_radii`).
    """
    norm = df.select(
        F.col(id_col),
        F.col(array_col).alias("__orig"),
        l2_normalize(F.col(array_col)).cast("array<double>").alias("__arr"),
    ).filter(F.col("__arr").isNotNull())
    centers = _fit_centroids(norm, "__arr", n_cells, seed)
    assigned = assign_cells(norm, "__arr", centers).cache()
    try:
        radii = cell_radii(assigned, centers)
        assigned.select(id_col, F.col("__orig").alias(array_col), "__cell").write.mode(
            "overwrite"
        ).partitionBy("__cell").parquet(path)
    finally:
        assigned.unpersist()
    return [[float(x) for x in c] for c in centers], radii


def topk_ivf_indexed(
    spark,
    path: str,
    centroids: Sequence[Sequence[float]],
    id_col: str,
    array_col: str,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    radii: Sequence[float] | None = None,
) -> DataFrame:
    """Serve a top-k query from a :func:`build_ivf_index` layout: rank the
    (tiny, driver-side) centroid bounds, scan ONLY the best cell
    partitions — directory-level partition pruning, visible as
    PartitionFilters in the plan — and exact-rank the candidates. With
    ``radii`` (returned by the builder), a second pruned scan covers any
    remaining cell whose cosine upper bound still beats the running k-th
    result, making the answer PROVABLY exact at any corpus; without
    radii it degrades to fixed-``n_probe`` approximate serving."""
    import numpy as np

    def probe(cells) -> DataFrame:
        cand = spark.read.parquet(path).filter(F.col("__cell").isin(cells))
        return topk_bruteforce(cand.select(id_col, array_col), id_col, array_col, query, k)

    if radii is None:
        qv = np.asarray(query, dtype=float)
        qn = qv / (np.linalg.norm(qv) or 1.0)
        order = np.argsort([
            float(np.linalg.norm(np.asarray(c) - qn)) for c in centroids
        ])
        return probe([int(c) for c in order[:n_probe]])

    bounds = _cells_by_bound(centroids, radii, query)
    first = [c for c, _ in bounds[:n_probe]]
    rows = probe(first).collect()
    kth = rows[-1]["cosine"] if len(rows) >= k else -1.0
    rest = [c for c, ub in bounds[n_probe:] if ub >= kth - _BOUND_EPS]
    if rest:
        return probe(first + rest)
    return probe(first)


def contrastive_pairs(
    emb: DataFrame,
    id_col: str,
    n_ids: int,
    positives: DataFrame,
    k_negatives: int = 3,
) -> DataFrame:
    """CONTRASTIVE training-pair construction (the dataset step before a
    dual-encoder / embedding-model fit): emit (anchor, other, label) rows
    — the given ``positives`` (anchor, other) pairs as label 1, plus
    ``k_negatives`` deterministic negatives per anchor as label 0.

    Negatives are SYSTEMATIC: candidate j for anchor a is
    ``(a + j*40503 + 12289) % n_ids`` (odd-multiplier stride — a full
    residue cycle, so negatives spread uniformly over the corpus),
    bumped by one when it lands on the anchor itself. Deterministic
    integer arithmetic -> identical on any engine/partitioning, and
    ZERO shuffles to generate (an explode over j plus modular math;
    the only join is the caller's positives union). Random negatives
    at scale are a salt away; the systematic form is the oracle-exact
    default. Collisions with a true positive are the caller's filter
    (standard in-batch-negative noise, kept to stay join-free).
    """
    if k_negatives < 1 or n_ids < 2:
        raise ValueError("contrastive_pairs: need k_negatives >= 1, n_ids >= 2")
    j = F.explode(F.sequence(F.lit(1), F.lit(int(k_negatives)))).alias("__j")
    cand = (F.col("anchor_id") + F.col("__j") * 40503 + 12289) % n_ids
    neg = (
        emb.select(F.col(id_col).alias("anchor_id"), j)
        .select(
            "anchor_id",
            F.when(cand == F.col("anchor_id"), (cand + 1) % n_ids)
            .otherwise(cand)
            .cast("long")
            .alias("other_id"),
        )
        .select("anchor_id", "other_id", F.lit(0).cast("int").alias("label"))
    )
    pos = positives.select(
        F.col(positives.columns[0]).cast("long").alias("anchor_id"),
        F.col(positives.columns[1]).cast("long").alias("other_id"),
        F.lit(1).cast("int").alias("label"),
    )
    return pos.unionByName(neg)


def rerank_candidates(
    emb: DataFrame,
    candidates: DataFrame,
    seeds: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """RETRIEVE-THEN-RERANK second stage: re-score a first-stage
    candidate set (BM25, ANN, whatever produced it) by embedding
    cosine against a per-query SEED vector — the pseudo-relevance /
    query-by-example rerank every hybrid retrieval pipeline runs.

    ``candidates`` is the first stage's output — a SMALL
    (query_id, cand_id) frame, <= queries x first-stage-k rows by
    construction — and ``seeds`` maps each query to its seed id (e.g.
    the first stage's top hit). Plan: the candidate and seed frames
    BROADCAST onto the embedding table (one scan, hash-join filtered;
    never a shuffle of the corpus), cosine is ``zip_with`` +
    ``aggregate`` (JVM-side, no UDF), and per-query top-k is
    orderBy+limit per query — TakeOrderedAndProject over the already-
    candidate-bounded rows. The <= queries*k result materializes
    (driver frame), mirroring ``bm25_topk``.

    Returns (query_id, cand_id, cosine, rank); cosine rounded to 6 for
    cross-engine hashing, rank computed on the unrounded value with
    ties by candidate id."""
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    spark = emb.sparkSession
    out_schema = StructType([
        StructField("query_id", StringType(), True),
        StructField("cand_id", LongType(), True),
        StructField("cosine", DoubleType(), True),
        StructField("rank", IntegerType(), True),
    ])
    if not seeds:
        # an empty first stage reranks to an empty result, not a crash
        return local_frame(spark, [], out_schema)
    missing = sorted(
        {r["query_id"] for r in
         candidates.select("query_id").distinct().collect()}
        - set(seeds)
    )
    if missing:
        # a candidate set whose query has no seed would be SILENTLY
        # dropped by the seed join — refuse instead
        raise ValueError(
            f"rerank_candidates: queries {missing} have candidates but "
            "no seed vector; every retrieved query needs a seed"
        )
    cand = F.broadcast(
        candidates.select("query_id", F.col("cand_id").cast("long"))
    )
    seed_df = F.broadcast(local_frame(
        spark,
        sorted((q, int(d)) for q, d in seeds.items()),
        "query_id string, __seed_id long",
    ))
    seed_emb = F.broadcast(
        emb.join(seed_df, emb[id_col] == F.col("__seed_id"))
        .select("query_id", F.col(vec_col).alias("__seed_vec"))
    )
    scored = (
        emb.join(cand, emb[id_col] == cand["cand_id"])
        .join(seed_emb, "query_id")
        .select(
            "query_id",
            "cand_id",
            cosine(
                F.col(vec_col).cast("array<double>"),
                F.col("__seed_vec").cast("array<double>"),
            ).alias("__cos"),
        )
    )
    # the per-query TakeOrdered branches share one lineage: persist the
    # scored frame once (bounded by the candidate set) so the embedding
    # scan + joins run a single time, not once per query — the
    # bm25_topk pattern
    scored = scored.persist()
    per_query = [
        scored.filter(F.col("query_id") == qid)
        .orderBy(F.col("__cos").desc(), F.col("cand_id").asc())
        .limit(k)
        for qid in sorted(seeds)
    ]
    ranked = reduce(lambda a, b: a.unionAll(b), per_query).withColumn(
        "rank",
        F.row_number().over(
            # bounded: input <= len(seeds) * k rows by construction
            Window.partitionBy("query_id").orderBy(
                F.col("__cos").desc(), F.col("cand_id").asc()
            )
        ).cast("int"),
    ).select(
        "query_id", "cand_id",
        F.round("__cos", 6).alias("cosine"), "rank",
    )
    rows = ranked.collect()
    scored.unpersist()
    return local_frame(spark, rows, out_schema)


def train_pq_codebooks(
    residuals, M: int, ksub: int, seed: int = 42, max_iter: int = 10
):
    """PRODUCT-QUANTIZATION codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the residual
    space into ``M`` contiguous subspaces and run an independent
    Lloyd's k-means with ``ksub`` centers in each — driver-side numpy
    over an already-bounded sample (the same fit-small/assign-
    distributed shape as :func:`_fit_centroids`). Returns a
    ``(M, ksub, dsub)`` float list-of-lists (the broadcastable
    codebook; ``M * ksub * dsub`` floats — KBs at any corpus size)."""
    import numpy as np

    X = np.asarray(residuals, dtype=np.float64)
    if X.ndim != 2 or len(X) == 0:
        raise ValueError("train_pq_codebooks needs a non-empty 2-D sample")
    dim = X.shape[1]
    if dim % M:
        raise ValueError(f"dim {dim} not divisible by M={M} subspaces")
    dsub = dim // M
    rng = np.random.default_rng(seed)
    books = []
    for m in range(M):
        S = X[:, m * dsub:(m + 1) * dsub]
        kk = min(ksub, len(S))
        cents = S[rng.choice(len(S), size=kk, replace=False)]
        for _ in range(max_iter):
            c2 = (cents * cents).sum(axis=1)
            lab = (c2[None, :] - 2.0 * (S @ cents.T)).argmin(axis=1)
            new = np.empty_like(cents)
            for c in range(kk):
                msk = lab == c
                new[c] = S[msk].mean(axis=0) if msk.any() else cents[c]
            if np.allclose(new, cents):
                cents = new
                break
            cents = new
        books.append([[float(v) for v in c] for c in cents])
    return books


def pq_encode(
    assigned: DataFrame, array_col: str, cell_col: str,
    coarse_centroids, codebooks, out: str = "__pq_code",
) -> DataFrame:
    """Distributed PQ ENCODE: per row, subtract the row's coarse
    centroid (residual), then per subspace pick the nearest codebook
    entry — one numpy matmul per subspace per Arrow batch
    (``mapInPandas``; coarse centroids + codebooks ride one broadcast,
    KBs total). Adds ``out``: an ``array<int>`` of M code ids — with
    ``ksub <= 256`` each fits a byte, so the stored index is M bytes
    per vector vs ``4*dim`` for the raw floats (the compression ratio
    the n7 entry asserts)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(coarse_centroids, dtype=np.float64)
    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    M = len(B)
    dsub = B[0].shape[1]
    bc = assigned.sparkSession.sparkContext.broadcast((C, B))

    # vectorized pandas_udf rather than mapInPandas: only the vector
    # and cell columns cross the Python boundary (guide §4.1) — the id
    # and any raw-float columns riding the frame stay JVM-side
    def _encode(arrs, cells):
        C, B = bc.value
        if len(arrs) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray(list(arrs), dtype=np.float64)
        R = X - C[cells.to_numpy()]
        codes = np.empty((len(R), M), dtype=np.int64)
        for m in range(M):
            S = R[:, m * dsub:(m + 1) * dsub]
            cb = B[m]
            c2 = (cb * cb).sum(axis=1)
            codes[:, m] = (c2[None, :] - 2.0 * (S @ cb.T)).argmin(axis=1)
        return pd.Series(list(codes))

    # eager annotations: see assign_cells (future-annotations module)
    _encode.__annotations__ = {
        "arrs": pd.Series, "cells": pd.Series, "return": pd.Series,
    }
    encode = pandas_udf(_encode, "array<int>")
    return assigned.withColumn(out, encode(F.col(array_col), F.col(cell_col)))


def topk_ivf_pq(
    df: DataFrame,
    id_col: str,
    array_col: str,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    ksub: int = 16,
    rerank: int = 100,
    seed: int = 42,
    materialize: bool = True,
):
    """IVF-PQ top-k — the ANN shape that actually fits 100 TB of
    embeddings in memory-bounded state: coarse IVF cells bound the
    scan to ``n_probe/n_cells`` of the corpus, PRODUCT-QUANTIZED
    residual codes (M bytes/vector) replace the raw floats in the
    scanned index, per-query LUT-based ASYMMETRIC distance (ADC —
    ``sum over m of LUT[m][code[m]]``, one numpy gather per Arrow
    batch) ranks the candidates, and the ADC top-``rerank`` re-ranks
    EXACTLY against the original vectors. Returns (id, cosine, rank),
    rank 1..k, exact-cosine ordered, id tiebreak.

    Plan shape: centroids + codebooks + per-cell LUTs are driver-built
    KBs riding ONE broadcast (none when the ADC kernel fits under the
    broadcast bound and runs on the driver, through
    :func:`~..session.pandas_kernel`); candidate selection is a cell-id
    filter on the assignment (with a parquet index partitioned by cell —
    :func:`build_ivf_index` — this prunes directories); ADC top-m and
    the final top-k are ``orderBy().limit()`` =
    TakeOrderedAndProject — NO corpus-scale window anywhere; the exact
    re-rank touches ``rerank`` rows by construction.

    Accuracy contract: approximate by design — recall@k depends on
    (n_probe, M, ksub, rerank); the n7 entry measures recall against
    the exact brute force and asserts a floor, while EXACT-DUPLICATE
    probes are guaranteed-found (a copy's ADC distance is its own
    quantization error, far below near-orthogonal strangers, and the
    exact re-rank then scores it cosine 1.0)."""
    import numpy as np

    norm = df.select(
        F.col(id_col),
        F.col(array_col).alias("__orig"),
        l2_normalize(F.col(array_col)).cast("array<double>").alias("__arr"),
    ).filter(F.col("__arr").isNotNull()).persist()
    # persisted: the coarse fit (count + sample collect), the PQ
    # sample collect, and the encode pass all read this one
    # normalization instead of recomputing it per consumer; the try
    # starts HERE so a raise anywhere (e.g. train_pq_codebooks on a
    # dim not divisible by m_subspaces) still releases the caches
    encoded = None
    try:
        # ONE count serves the coarse fit's sample sizing and the PQ
        # sample below (the fit used to re-count internally)
        n = norm.count()
        centers = _fit_centroids(norm, "__arr", n_cells, seed, n=n)
        assigned = assign_cells(norm, "__arr", centers)

        # PQ training sample: residuals of the same bounded sample the
        # coarse fit used (two tiny driver collects total)
        src = assigned.select("__arr", "__cell")
        if n > _KMEANS_FIT_SAMPLE:
            src = src.sample(
                fraction=_KMEANS_FIT_SAMPLE / n, seed=seed
            ).limit(_KMEANS_FIT_SAMPLE)
        rows = src.collect()
        C = np.asarray(centers, dtype=np.float64)
        sample_res = [
            (np.asarray(r["__arr"]) - C[r["__cell"]]).tolist()
            for r in rows
        ]
        books = train_pq_codebooks(sample_res, m_subspaces, ksub, seed)

        # the normalized vectors are spent once the codes exist: drop
        # them before persisting so the cached index holds (id, orig,
        # cell, M-byte code) — not a second full float vector per row
        encoded = pq_encode(
            assigned, "__arr", "__cell", centers, books
        ).drop("__arr").persist()
        # probe cells: nearest coarse centroids to the (unit) query
        q = np.asarray([float(v) for v in query], dtype=np.float64)
        qn = q / np.linalg.norm(q)
        order = np.argsort(((C - qn[None, :]) ** 2).sum(axis=1))
        probe = [int(c) for c in order[: min(n_probe, len(C))]]

        # per-probed-cell LUT: ||q_res_m - codebook[m][j]||^2
        B = [np.asarray(b, dtype=np.float64) for b in books]
        dsub = B[0].shape[1]
        luts = {}
        for c in probe:
            qr = qn - C[c]
            luts[c] = np.stack([
                ((B[m] - qr[m * dsub:(m + 1) * dsub][None, :]) ** 2
                 ).sum(axis=1)
                for m in range(len(B))
            ])
        # the ADC kernel's input plus output bytes: at most n candidate
        # (id, cell, code) rows and n (id, distance) rows; on the driver
        # it reads the tables from its closure, only executors need
        # them broadcast
        est = n * 8 * (len(B) + 4)
        held, bc = luts, None
        if not kernel_on_driver(df.sparkSession, est):
            held, bc = None, df.sparkSession.sparkContext.broadcast(luts)

        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        # prune BEFORE the opaque python pass: mapInPandas ships every
        # input column to the worker (guide §4.1) — the ADC ranking
        # needs only (id, cell, code), never the raw __orig floats
        cand = encoded.filter(F.col("__cell").isin(probe)).select(
            id_col, "__cell", "__pq_code"
        )
        adc_schema = StructType([
            cand.schema[id_col],
            StructField("__adc", DoubleType(), True),
        ])

        def adc(batches):
            luts = held if bc is None else bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.asarray(list(pdf["__pq_code"]), dtype=np.int64)
                out = np.empty(len(pdf), dtype=np.float64)
                cells = pdf["__cell"].to_numpy()
                for c in np.unique(cells):
                    msk = cells == c
                    lut = luts[int(c)]
                    out[msk] = lut[
                        np.arange(codes.shape[1])[None, :], codes[msk]
                    ].sum(axis=1)
                yield pdf[[id_col]].assign(__adc=out)

        shortlist = (
            pandas_kernel(cand, adc, adc_schema, est_bytes=est)
            .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
            .limit(rerank)
        )
        # EXACT re-rank of the bounded shortlist against the originals
        final = (
            shortlist.join(
                encoded.select(id_col, "__orig"), id_col
            )
            .select(
                F.col(id_col),
                F.round(
                    cosine(
                        F.col("__orig").cast("array<double>"),
                        F.array(*[F.lit(float(v)) for v in query]),
                    ),
                    6,
                ).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.col(id_col))
            .limit(k)
        )
        from pyspark.sql import Window

        ranked = final.withColumn(
            "rank",
            F.row_number().over(
                # bounded post-limit window: <= k rows by construction
                Window.orderBy(F.desc("cosine"), F.col(id_col))
            ).cast("int"),
        )
        if not materialize:
            # caller audits/extends the lazy plan and owns the
            # persisted encoded frame's lifetime (ContextCleaner
            # reclaims it with the plan) — the bm25_topk convention
            return ranked
        rows_out = ranked.collect()
        return local_frame(df.sparkSession, rows_out, ranked.schema)
    except BaseException:
        if encoded is not None and not materialize:
            # raised before the lazy plan was handed over: nothing
            # will ever own the encoded cache — release it here
            encoded.unpersist()
        raise
    finally:
        # the lazy plan reads through `encoded`, which no longer needs
        # the upstream normalization — norm's cache is always released
        norm.unpersist()
        if materialize and encoded is not None:
            encoded.unpersist()
