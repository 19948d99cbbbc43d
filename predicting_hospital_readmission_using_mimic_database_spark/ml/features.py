"""Feature construction: T14/T15 bag-of-words + M1 assembly + M2 one-hot
(SURVEY.md §2.7, §2.9).

The reference fits sklearn ``CountVectorizer(max_features=3000,
analyzer=clean_textmain)`` (py:312-315) and glues the resulting sparse
matrix onto the feature table by row order (py:332). Spark-first shape:
MLlib ``CountVectorizer`` emits the sparse vector as a COLUMN on the same
row — no positional join exists anywhere in this engine. Assembly is
``VectorAssembler`` (py:461-462's ``df[cols].values``), one-hot is
explicit 0/1 dummy columns (``pd.get_dummies`` parity, py:344 —
SQL-checkable).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import clean_text_tokens
from ..session import local_frame


def tokens_df(docs: DataFrame, text_col: str = "text", out: str = "tokens") -> DataFrame:
    """documents -> + clean token array (the T7-T13 pipeline, one plan)."""
    return docs.withColumn(out, clean_text_tokens(text_col))


def fit_count_vectorizer(
    df: DataFrame,
    tokens_col: str = "tokens",
    vocab_size: int = 3000,
    out: str = "tf",
):
    """T14 — corpus-frequency-ordered bag-of-words (py:312-315).

    Returns ``(model, transformed)``: ``model.vocabulary`` is the T15
    export (terms ordered by corpus TF, MLlib semantics matching sklearn's
    max_features selection); ``transformed`` carries a SparseVector column
    — columnar, never a 3,000-wide dense matrix.
    """
    from pyspark.ml.feature import CountVectorizer

    cv = CountVectorizer(inputCol=tokens_col, outputCol=out, vocabSize=vocab_size)
    model = cv.fit(df)
    return model, model.transform(df)


def vocabulary_df(spark, model) -> DataFrame:
    """T15 — ``get_feature_names`` parity (py:323): vocabulary as rows
    (term, index); index is the vector position."""
    return local_frame(
        spark,
        [(t, i) for i, t in enumerate(model.vocabulary)], "term string, idx int"
    )


def vector_stats(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-row sparse-vector summary: nonzero count + total count.

    Oracle-checkable view of the T14 output (n_nonzero = per-doc distinct
    in-vocab terms; total = per-doc token count when vocab covers the
    corpus).
    """
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.size(F.filter(arr, lambda x: x > 0)).alias("n_nonzero"),
        F.aggregate(arr, F.lit(0.0), lambda a, x: a + x).cast("long").alias("total_terms"),
    )


def assemble_features(
    df: DataFrame, cols: Sequence[str], out: str = "features"
) -> DataFrame:
    """M1 — numeric columns -> one vector column (py:461-462)."""
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=list(cols), outputCol=out).transform(df)


def numeric_columns(df: DataFrame, exclude: Sequence[str] = ()) -> list[str]:
    """The reference's numeric-dtype selection (py:411-414)."""
    from pyspark.sql.types import NumericType

    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType) and f.name not in exclude
    ]


def get_dummies(df: DataFrame, col: str, values: Sequence[str], prefix: str | None = None) -> DataFrame:
    """M2 — ``pd.get_dummies`` parity (py:344): one 0/1 column per known
    value. Explicit ``values`` keeps the schema stable and the plan one
    pass (no distinct scan); for model input prefer the vector
    ``OneHotEncoder`` instead of wide dummies.
    """
    p = prefix or col
    return df.select(
        "*",
        *[
            (F.col(col) == F.lit(v)).cast("int").alias(f"{p}_{v}")
            for v in values
        ],
    )


def tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    top_n: int | None = None,
) -> DataFrame:
    """T16 — long-form TF-IDF with sklearn's smoothed IDF:
    ``idf = ln((1 + N) / (1 + df)) + 1``, ``tfidf = tf * idf``.

    Beyond-reference (the notebook stops at raw counts, py:312-315) but the
    standard next step for the quality-scoring / dedup-weighting stages of
    a training-data pipeline. Long (doc, term, weight) form, not a dense
    matrix: at 100 TB the vocabulary is millions of terms and the dense
    representation is the scale-killer, while the long form is just two
    hash aggregations (tf, df) and one join on ``token`` — AQE picks
    broadcast when the vocab is small, sort-merge when it is not.

    ``top_n`` keeps only the n highest-weight terms per doc
    (tie-break: token asc) via a per-doc window — the common "document
    keywords" rollup.
    """
    tok = docs.select(id_col, F.explode(tokens_col).alias("token"))
    n_docs = docs.count()  # scalar only; folded into the idf literal
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    out = tf.join(df_, "token").select(
        id_col,
        "token",
        "tf",
        "df",
        (F.col("tf") * (F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0))).alias("tfidf"),
    )
    if top_n is not None:
        w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token").asc())
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n)
        )
    return out


def standard_scale_exploded(
    df: DataFrame, id_col: str, vec_col: str, ndigits: int = 6
) -> DataFrame:
    """M12 — per-dimension z-score standardization of an embedding /
    feature-array column (sklearn ``StandardScaler`` / MLlib
    ``StandardScaler(withMean=True)`` semantics, population stddev),
    emitted in EXPLODED form ``(id, dim, z)`` so the result is exactly
    SQL-oracle-checkable.

    Plan shape: one ``posexplode``, ONE aggregation shuffle over the
    tiny dimension key-space (d keys — e.g. 64 — with map-side partial
    aggregation, so the exchange carries d rows per task, not d rows
    per input row), then a BROADCAST join of the d-row stats frame back
    onto the exploded values — the scaled output never reshuffles. At
    100 TB the only wide data movement is the map-local explode; the
    fitted (mu, sigma) frame is d rows regardless of corpus size — the
    classic fit-small/transform-wide split.

    Zero-variance dimensions scale to NULL (explicit ``sigma > 0``
    guard on both engines — SQL division by zero is engine-dependent).
    ``ndigits`` rounds the z-scores to absorb partial-aggregation
    float-sum-order differences across engines.
    """
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "__x")
    )
    stats = ex.groupBy("dim").agg(
        F.avg("__x").alias("__mu"),
        F.stddev_pop("__x").alias("__sigma"),
    )
    return (
        ex.join(F.broadcast(stats), "dim")
        .select(
            F.col(id_col),
            F.col("dim").cast("long").alias("dim"),
            F.round(
                F.when(
                    F.col("__sigma") > 0,
                    (F.col("__x") - F.col("__mu")) / F.col("__sigma"),
                ),
                ndigits,
            ).alias("z"),
        )
    )


def hash_features(
    df: DataFrame, id_col: str, tokens_col: str, n_features: int = 1024
) -> DataFrame:
    """T19 — hashing-trick featurization (MLlib ``HashingTF`` semantics:
    token -> fixed bucket, per-doc bucket counts) in EXPLODED form
    ``(id, bucket, count)``.

    The vocabulary-free alternative to CountVectorizer: no fit pass, no
    vocab broadcast, no OOV handling — the property that matters at
    100 TB, where a vocab fit is itself a full-corpus aggregation. One
    explode + ONE partial-aggregated shuffle on (id, bucket); dimension
    is fixed up front so downstream assemblers never depend on corpus
    contents.

    Bucket = first 32 bits of md5(token) mod ``n_features`` — md5
    instead of MLlib's murmur3 so the mapping is ENGINE-INDEPENDENT and
    the SQL oracle recomputes it exactly (the same determinism idiom as
    quota/weighted sampling). Hash collisions merging rare tokens into
    one bucket are inherent to the trick (Weinberger et al. 2009), not
    a defect.
    """
    if n_features <= 0:
        raise ValueError(f"hash_features: n_features must be > 0, got {n_features}")
    ex = df.select(F.col(id_col), F.explode(F.col(tokens_col)).alias("__tok"))
    bucket = (
        F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long")
        % n_features
    )
    return ex.groupBy(F.col(id_col), bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n")
    )
