"""Text-analysis operators for training-data pipelines (north-star
surface): language-ID, quality scoring, token counting, document
fingerprinting.

Everything here is a single JVM-side column expression (whole-stage
codegen; no UDFs) and therefore SQL-expressible — every operator gets an
exact DuckDB oracle in qdefs_llm. Cross-engine digest: md5 (the one hash
both engines implement identically).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import tokenize
from ..session import local_frame

# marker stopwords per language — tiny n-gram-ish heuristic lists; the
# language whose markers appear most wins (deterministic tiebreak by the
# fixed order below, via strictly-greater comparison on a reversed scan)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "les", "de", "et", "un", "est", "que"),
}


def _marker_count(tokens: Column, markers: tuple[str, ...]) -> Column:
    # isin -> InSet hash probe per token; a literal-array array_contains
    # would rebuild the array per element in the interpreted evaluator
    return F.size(F.filter(tokens, lambda t: t.isin(list(markers))))


def language_scores(text: Column) -> dict[str, Column]:
    toks = tokenize(F.lower(text))
    return {lang: _marker_count(toks, m) for lang, m in LANG_MARKERS.items()}


def language_id(text: Column, default: str = "und") -> Column:
    """Best-guess language: argmax of marker-word hits; ``default`` when no
    marker hits at all. Ties resolve to the FIRST language in LANG_MARKERS
    order (first-match-wins CASE against the max score)."""
    scores = language_scores(text)
    max_s = F.greatest(*scores.values())
    out = None
    for lang in LANG_MARKERS:
        cond = scores[lang] == max_s
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return F.when(max_s == 0, F.lit(default)).otherwise(out.otherwise(F.lit(default)))


def whitespace_token_count(text: Column) -> Column:
    """Token count by whitespace runs (the cheap estimator)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: count word pieces AND punctuation
    marks separately (a GPT-style tokenizer splits both), via regexp_count
    of word-runs + non-space-non-word runs."""
    return F.regexp_count(text, F.lit(r"\w+")) + F.regexp_count(
        text, F.lit(r"[^\w\s]")
    )


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, F.regexp_count(text, F.lit(r"[^\w\s]")) / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    toks = tokenize(F.lower(text))
    return F.when(
        F.size(toks) > 0, _marker_count(toks, markers) / F.size(toks)
    ).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokenize(text)
    return F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane mean word length + some stopwords. Weights are engine-defined
    (documented constants), mirrored exactly in the oracle SQL."""
    n = F.length(text)
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.0)
    mwl = mean_word_length(text)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(text) > 0.0, 1.0).otherwise(0.0)
    return F.round(
        (len_ok * 0.4 + punct_ok * 0.2 + mwl_ok * 0.2 + stop_ok * 0.2), 6
    )


def fingerprint_md5(text: Column) -> Column:
    """Whole-document fingerprint: md5 of whitespace-normalized lowercase
    text — byte-identical across engines."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.md5(norm)


def fingerprint_kgram_min(text: Column, k: int = 8, stride: int = 4) -> Column:
    """Winnowing-style rolling fingerprint: minimum md5 over the k-char
    grams at every ``stride``-th position of the normalized text
    (shift-tolerant under local edits away from the minimizing window).
    Whole expression JVM-side; ``stride`` bounds the md5-per-character
    cost — at stride 4 a 10 kB doc hashes 2.5k grams, not 10k."""
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")

    # let-bind the normalized text ONCE via a single-element-array
    # transform: a lambda that referenced ``norm`` directly would re-run
    # the whole regex chain per gram in the interpreted higher-order
    # evaluator (measured 5x slower at sf0.1)
    def grams(n: Column) -> Column:
        idx = F.sequence(
            F.lit(1), F.greatest(F.length(n) - (k - 1), F.lit(1)), F.lit(stride)
        )
        return F.transform(idx, lambda i: F.md5(F.substring(n, i, k)))

    return F.array_min(F.flatten(F.transform(F.array(norm), grams)))


def pack_chunks(
    df,
    group_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    out: str = "chunk_id",
):
    """x5 — fixed-budget sequence packing: assign each doc to a training
    chunk so consecutive docs (per ``group_col``, in ``order_col`` order)
    accumulate ~``budget`` units (tokens/chars) per chunk.

    ``chunk_id = floor(cum_before / budget)`` where ``cum_before`` is the
    running total EXCLUDING the current doc — the deterministic streaming
    form of greedy packing (a doc may straddle a boundary; the bin-packing
    variant that reorders docs is not order-stable and so not
    oracle-checkable). One partitioned window per group — scale-safe as
    long as no single group outgrows a task (pre-split giant groups on a
    secondary key upstream).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(F.col(size_col)).over(w) - F.col(size_col)
    return df.withColumn(out, F.floor(cum_before / F.lit(budget)).cast("long"))


def unigram_logprob(
    df,
    id_col: str,
    tokens_col: str,
    out: str = "avg_logprob",
):
    """x6 — corpus-unigram language-model quality score (the CCNet-style
    filter: docs whose tokens are improbable under the corpus LM are
    boilerplate/garbage candidates).

    avg_logprob(doc) = sum_t c_doc(t) * ln(c_corpus(t) / N) / len(doc)

    Physical plan, in corpus-scale order:
    1. per-doc token counts — one shuffle on (doc, token), map-side
       combined (explode never leaves the partial-agg stage);
    2. corpus vocabulary counts — aggregated FROM the per-doc counts
       (sum of partials, far fewer rows than raw tokens);
    3. join doc-counts to vocab on token — the only wide join, sized by
       distinct (doc, token) pairs, not token instances;
    4. weighted average per doc.

    Returns (id_col, n_tokens, ``out``). Scores are comparable within a
    corpus; rank/threshold downstream.
    """
    toks = df.select(F.col(id_col), F.explode(F.col(tokens_col)).alias("__tok"))
    doc_counts = toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__dc"))
    vocab = doc_counts.groupBy("__tok").agg(F.sum("__dc").alias("__c"))
    total = vocab.agg(F.sum("__c").alias("n")).collect()[0]["n"]
    scored = doc_counts.join(vocab, "__tok")
    return scored.groupBy(id_col).agg(
        F.sum("__dc").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.col("__dc") * F.log(F.col("__c") / F.lit(float(total))))
            / F.sum("__dc"),
            6,
        ).alias(out),
    )


#: PII patterns written to the COMMON subset of Java regex (Spark) and
#: RE2 (DuckDB/Go engines): literal classes, no lookaround, no \S
#: shorthand — so a scrub is reproducible across engines byte-for-byte.
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "url": r"https?://[^ \t\n]+",
}


def pii_count(text, kind: str):
    """Occurrences of one PII pattern (JVM regexp_count, no UDF)."""
    return F.regexp_count(text if not isinstance(text, str) else F.col(text),
                          F.lit(PII_PATTERNS[kind]))


def pii_scrub(text, kinds: tuple = ("email", "url")):
    """x8 — PII redaction for corpus curation: replace each matched
    pattern with a typed placeholder (``<EMAIL>``, ``<URL>``), entirely
    JVM-side ``regexp_replace`` — the map-only, shuffle-free scrub pass
    every released dataset runs. Chain order is deterministic (email
    before url by default), so output bytes are engine-reproducible."""
    c = F.col(text) if isinstance(text, str) else text
    for k in kinds:
        c = F.regexp_replace(c, PII_PATTERNS[k], f"<{k.upper()}>")
    return c


#: domain extractor shared with the DuckDB oracles: Java-regex/RE2-common
#: (literal classes only), capture group 1 = the registrable host
URL_DOMAIN_RE = r"https?://([a-zA-Z0-9.-]+)"


def extract_url_domains(text) -> Column:
    """All URL host names in a document as an array — the per-domain
    curation signal (domain allow/deny lists, per-domain caps) every web
    corpus pipeline keys on. JVM ``regexp_extract_all``, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(URL_DOMAIN_RE), 1)


def domain_stats(df, id_col: str, text) -> "DataFrame":
    """x10 — per-domain corpus stats: URL mentions and distinct documents
    per host. One explode + ONE shuffle on the domain key (count and
    count-distinct share the aggregation exchange); at 100 TB the
    explode is map-side and the shuffle carries (domain, doc_id) pairs
    only — never document text."""
    return (
        df.select(F.col(id_col), F.explode(extract_url_domains(text)).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct(id_col).alias("n_docs"),
        )
    )


#: Gopher-rule constants (Rae et al. 2021, table A1 subset — the public
#: quality-filter battery): shared with the oracle SQL
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def gopher_quality_flags(text) -> dict[str, Column]:
    """x11 — Gopher-style document quality flags as pure JVM expressions:
    word-count bounds, mean-word-length bounds, distinct-stopword
    presence, and the combined keep/drop verdict. Map-only (no shuffle,
    no UDF) — the filter pass runs at scan speed and pushes the verdict
    down next to the parquet reader."""
    words = _words(text)
    n_words = F.size(words)
    total_len = _total_word_chars(words)
    mean_wl = F.when(n_words > 0, total_len / n_words)
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wl <= GOPHER_MAX_MEAN_WORD_LEN
    )
    ok_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return {
        "n_words": n_words.cast("long"),
        "mean_word_len": F.round(mean_wl, 6),
        "stop_hits": stop_hits.cast("long"),
        "keep": ok_words & ok_mwl & ok_stop,
    }


def _words(text) -> Column:
    """Non-empty whitespace-run tokens — the ONE word model shared by
    ``gopher_quality_flags`` / ``repetition_stats`` / ``chunk_sliding``
    and their oracles (blank doc -> empty array, matching DuckDB's
    ``list_filter(string_split_regex(...), t -> t <> '')``). Spark's
    split of "" yields [""]; the filter drops it so n_words is 0 for
    blank docs on BOTH engines."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != F.lit(""))


def _total_word_chars(words: Column) -> Column:
    """Summed character length of the word array (long) — the shared
    denominator of the Gopher mean-word-length and repetition signals."""
    return F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _word_ngrams(words: Column, n: int) -> Column:
    """Space-joined word ``n``-grams as an array (empty when the doc has
    fewer than ``n`` words). Pure JVM: sequence + transform + slice."""
    starts = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.array_join(F.slice(words, i, n), " "))


def repetition_stats(df, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 5):
    """x12 — Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    repetition half of the filter battery that ``gopher_quality_flags``
    leaves out): per document,

    - ``top_{top_n}gram_frac``: the largest character mass any single
      word ``top_n``-gram accounts for, as a fraction of total word
      characters (``count * gram_chars / total_chars`` maximized over
      grams — the deterministic, tie-free variant of "fraction of
      characters in the most frequent n-gram");
    - ``dup_{dup_n}gram_frac``: character mass of all ``dup_n``-grams
      occurring more than once, overlap-unaware (the standard
      reimplementation simplification), over total word characters.

    Plan shape: ONE scan, ONE explode — both gram sizes ride a single
    tagged ``array<struct<sz, gram>>`` (plus one per-doc sentinel
    element so short/blank docs survive to the output without a join
    back) — then ONE shuffle on (doc, sz, gram) counts occurrences and
    ONE shuffle on doc folds the signals; both aggregations are partial
    (map-side combine), and the shuffles carry grams + counts, never
    full documents. Gram character mass derives from the gram string
    itself (``length(gram) - (n-1)`` separators), so no extra payload
    rides the shuffle.
    """
    if top_n == dup_n:
        raise ValueError(
            f"repetition_stats: top_n and dup_n must differ (both {top_n}): "
            "equal sizes would emit every gram twice and double-count"
        )
    if top_n < 1 or dup_n < 1:
        raise ValueError("repetition_stats: gram sizes must be >= 1")

    def _tagged(sz: int) -> Column:
        # real closure, not a default-arg lambda: pyspark dispatches on
        # lambda arity, and a second (defaulted) parameter would receive
        # the element index instead of the intended constant
        def _mk(g: Column) -> Column:
            return F.struct(F.lit(sz).alias("sz"), g.alias("gram"))

        return F.transform(_word_ngrams(F.col("__w"), sz), _mk)

    sentinel = F.array(F.struct(F.lit(0).alias("sz"), F.lit("").alias("gram")))
    exploded = (
        df.select(
            F.col(id_col),
            _total_word_chars(_words(text_col)).alias("n_word_chars"),
            _words(text_col).alias("__w"),
        )
        .select(
            id_col,
            "n_word_chars",
            F.explode(F.concat(_tagged(top_n), _tagged(dup_n), sentinel)).alias(
                "__g"
            ),
        )
        .select(
            id_col,
            "n_word_chars",
            F.col("__g.sz").alias("sz"),
            F.col("__g.gram").alias("gram"),
        )
    )
    counted = exploded.groupBy(id_col, "sz", "gram").agg(
        F.count("*").alias("cnt"), F.first("n_word_chars").alias("n_word_chars")
    )
    mass = (F.col("cnt") * (F.length("gram") - F.col("sz") + 1)).cast("double")
    sig = counted.groupBy(id_col).agg(
        F.first("n_word_chars").alias("n_word_chars"),
        F.max(F.when(F.col("sz") == top_n, mass)).alias("__top"),
        F.sum(F.when((F.col("sz") == dup_n) & (F.col("cnt") >= 2), mass)).alias(
            "__dup"
        ),
    )
    tot = F.col("n_word_chars").cast("double")
    frac = lambda c: F.round(  # noqa: E731
        F.when(tot > 0, F.coalesce(c, F.lit(0.0)) / tot).otherwise(0.0), 6
    )
    return sig.select(
        id_col,
        "n_word_chars",
        frac(F.col("__top")).alias(f"top_{top_n}gram_frac"),
        frac(F.col("__dup")).alias(f"dup_{dup_n}gram_frac"),
    )


def chunk_sliding(df, id_col: str, text_col: str, size: int = 32, stride: int = 24):
    """x13 — sliding-window chunking (the RAG / context-window prep op):
    split each document into word chunks of ``size`` tokens starting
    every ``stride`` tokens (overlap = size - stride). Map-only, pure
    JVM (sequence + posexplode + slice + array_join): at 100 TB this
    runs at scan speed with zero shuffle, and the chunk explosion is
    bounded by ~n_tokens/stride per doc. A blank document yields one
    empty chunk so every input doc appears downstream.

    Contrast ``pack_chunks`` (x5), which packs multiple docs into fixed
    budgets for pretraining; this op slides a window WITHIN a doc for
    retrieval indexing.
    """
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    w = F.col("__w")
    starts = F.sequence(F.lit(1), F.greatest(F.size(w), F.lit(1)), F.lit(stride))
    chunk_words = F.slice(w, F.col("__start"), size)
    return (
        df.select(F.col(id_col), _words(text_col).alias("__w"))
        .select(
            id_col,
            "__w",
            F.posexplode(starts.cast("array<int>")).alias("chunk_id", "__start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(chunk_words).cast("long").alias("n_tokens"),
            F.array_join(chunk_words, " ").alias("chunk_text"),
        )
    )


def bm25_topk(
    docs,
    queries: dict[str, list[str]],
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    materialize: bool = True,
):
    """BM25 top-``k`` retrieval over a tokenized corpus — the ranking
    tier a training-data pipeline puts on the t16 TF-IDF substrate
    (decontamination probes, eval-set retrieval, quality-by-query
    mining). ``queries`` is the driver-side ``{query_id: [terms]}``
    map user queries naturally are (a handful of short strings — never
    corpus-scale data).

    Standard Okapi/Lucene formula per (query, doc):
    ``sum over query terms t of
    ln(1 + (N - df + 0.5) / (df + 0.5))          -- robust idf
    * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` .

    Plan shape (the 100 TB story):

    * corpus stats once: per-(doc, token) ``tf`` and per-doc length
      ``dl`` are two hash aggregations over one explode; ``N`` and
      ``avgdl`` fold to literals (two scalars).
    * the QUERY-TERM frame broadcasts (a few rows), so candidate
      selection — docs containing at least one query term — is a
      BROADCAST semi-shape hash join on ``token``, never a shuffle of
      the corpus against the queries.
    * ``df`` is computed AFTER that cut (per-token doc counts are
      unchanged by filtering to those very tokens) and broadcasts
      back — per-term partial scores need no corpus-wide join.
    * per-query top-k is one ``orderBy().limit(k)`` per query id,
      UNIONED lazily — each compiles to TakeOrderedAndProject (per-
      partition heap of k + driver merge). NO corpus-scale window:
      a ``row_number() OVER (PARTITION BY query_id)`` would sort
      every candidate row inside single per-query tasks.

    Returns (query_id, doc_id, score, rank), rank 1..k, ties broken by
    doc id ascending."""
    from functools import reduce

    spark = docs.sparkSession
    tok = docs.select(F.col(id_col), F.explode(tokens_col).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dl = tok.groupBy(id_col).agg(F.count("*").alias("dl"))
    n_docs, avgdl = docs.agg(
        F.count("*"), F.avg(F.size(tokens_col))
    ).collect()[0]
    if not n_docs or not queries:
        # empty corpus (avg(size) is NULL -> float(None) TypeError
        # downstream) or empty query map (reduce() over zero per-query
        # branches): return the typed empty result instead
        # (mirrors rerank_candidates' empty-seeds posture)
        empty = local_frame(
            spark,
            [],
            T.StructType([
                T.StructField("query_id", T.StringType(), True),
                T.StructField(
                    id_col,
                    docs.schema[id_col].dataType,
                    True,
                ),
                T.StructField("score", T.DoubleType(), True),
                T.StructField("rank", T.IntegerType(), True),
            ]),
        )
        return empty
    qdf = F.broadcast(local_frame(
        spark,
        sorted(
            (qid, t) for qid, terms in queries.items() for t in set(terms)
        ),
        "query_id string, token string",
    ))
    tf_q = tf.join(qdf.select("token").distinct(), "token")
    df_q = F.broadcast(
        tf_q.groupBy("token").agg(F.count("*").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    denom = (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf_q.join(qdf, "token")
        .join(df_q, "token")
        .join(dl, id_col)
        .groupBy("query_id", id_col)
        .agg(F.sum(idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("score"))
    )
    # the per-query TakeOrdered branches share one lineage: persist the
    # candidate-score frame ONCE (it is the post-broadcast-cut
    # (query, candidate-doc) set, not the corpus) instead of recomputing
    # tf/dl per branch
    scored = scored.persist()
    per_query = [
        scored.filter(F.col("query_id") == qid)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        for qid in sorted(queries)
    ]
    from pyspark.sql import Window

    ranked = reduce(lambda a, b_: a.unionAll(b_), per_query).withColumn(
        "rank",
        F.row_number().over(
            # bounded post-limit window: its input is at most
            # len(queries) * k rows by construction, never the corpus
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col(id_col).asc()
            )
        ).cast("int"),
    ).select("query_id", id_col, "score", "rank")
    if not materialize:
        # caller audits/extends the lazy plan and owns the persisted
        # frame's lifetime (ContextCleaner reclaims it with the plan)
        return ranked
    # the ranked result is <= len(queries) * k rows BY CONSTRUCTION:
    # materialize it now so the persisted candidate frame unpersists
    # deterministically (the codebase convention) instead of pinning
    # executor memory until plan GC
    rows = ranked.collect()
    scored.unpersist()
    return local_frame(spark, rows, ranked.schema)
