"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch, ACL
2016 — the public byte-pair-encoding algorithm every modern LLM
tokenizer descends from).

Why it belongs in a 100 TB data engine: tokenizer training is a
corpus-statistics job, and the classic implementation detail that makes
it tractable is the TWO-LEVEL shape — aggregate the corpus once into
the distinct-word frequency table (the ONLY corpus-wide shuffle; BPE
merge statistics are a pure function of ``(word, count)``), then run
every merge iteration over that vocab frame, which is bounded by
distinct-word count, not corpus size. A 100 TB corpus with a 10M-word
vocabulary iterates over 10M rows, not 100 TB.

Per merge iteration (all DataFrame ops, no UDF):

1. explode each vocab word's ADJACENT symbol pairs, weighted by the
   word's corpus count — one partial-aggregated shuffle over pair keys;
2. pick the argmax pair with a deterministic tiebreak
   (count DESC, pair lexicographic ASC) — a one-row collect;
3. apply the merge to every word's symbol array with a left-to-right
   ``aggregate()`` fold — non-overlapping greedy replacement, the same
   semantics as the reference's regex substitution ("aaa" + merge (a,a)
   -> ["aa", "a"]).

Lineage discipline: the vocab frame is re-derived each iteration, so it
is cached per step and ``localCheckpoint``'d every ``checkpoint_every``
merges — the same truncation d6's label propagation uses; 1000 merges
must not build a 1000-deep plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import adopt_frame, local_frame, loop_session

#: classic end-of-word marker: merges never cross word boundaries and
#: word-final units stay distinct from word-internal ones
END_MARKER = "</w>"


def word_symbols(word: Column, end_marker: str = END_MARKER) -> Column:
    """Initial BPE symbolization: characters plus the end-of-word
    marker (``regexp_extract_all('.')`` — identical char model on the
    SQL-oracle side)."""
    return F.concat(
        F.regexp_extract_all(word, F.lit("."), 0), F.array(F.lit(end_marker))
    )


def adjacent_pairs(syms: Column) -> Column:
    """Adjacent symbol pairs of an array as ``struct<a, b>`` (empty for
    single-symbol words)."""
    starts = F.when(
        F.size(syms) >= 2, F.sequence(F.lit(1), F.size(syms) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.struct(
            F.element_at(syms, i).alias("a"), F.element_at(syms, i + 1).alias("b")
        ),
    )


def apply_merge(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair ``(a, b)`` with the merged symbol ``a+b`` — an ``aggregate()``
    fold (ANSI-safe: ``try_element_at`` on the empty accumulator)."""
    ab = F.lit(a + b)

    def step(acc: Column, s: Column) -> Column:
        merged = F.concat(
            F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(ab)
        )
        return F.when(
            (F.try_element_at(acc, F.lit(-1)) == a) & (s == F.lit(b)), merged
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def vocab_table(df: DataFrame, text_col: str, end_marker: str = END_MARKER) -> DataFrame:
    """The one corpus-wide pass: whitespace words -> distinct-word counts
    -> initial symbol arrays. Everything after iterates over THIS frame."""
    from ..operators.textstats import _words

    return (
        df.select(F.explode(_words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n"))
        .select("w", "n", word_symbols(F.col("w"), end_marker).alias("syms"))
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair frequencies of the CURRENT
    symbolization — the per-iteration kernel (and the oracle-checked
    surface, entry t20): one explode + one partial-agg shuffle on the
    pair key."""
    return (
        vocab.select("n", F.explode(adjacent_pairs(F.col("syms"))).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").cast("long").alias("cnt"))
    )


def pair_and_triple_counts(vocab: DataFrame) -> DataFrame:
    """Corpus-weighted counts of adjacent PAIRS and adjacent TRIPLES of
    the current symbolization in ONE shuffle: rows
    ``(kind 'p'|'t', s1, s2, s3, cnt)`` with ``s3`` NULL for pairs.

    Why triples: a merge (a, b) only creates NEW pairs that embed an
    adjacent triple containing (a, b) — count(x, ab) <= count(triple
    (x, a, b)), count(ab, y) <= count(triple (a, b, y)), and the
    self-overlap case count(ab, ab) <= count(triple (a, b, a)). The
    triple counts therefore UPPER-BOUND every pair a batched merge could
    newly create, which is exactly the certificate
    :func:`bpe_train`'s merge batching needs to stay sequence-exact
    without a recount between batched merges."""
    syms = F.col("syms")
    tri_starts = F.when(
        F.size(syms) >= 3, F.sequence(F.lit(1), F.size(syms) - 2)
    ).otherwise(F.array().cast("array<int>"))
    triples = F.transform(
        tri_starts,
        lambda i: F.struct(
            F.element_at(syms, i).alias("s1"),
            F.element_at(syms, i + 1).alias("s2"),
            F.element_at(syms, i + 2).alias("s3"),
        ),
    )
    pairs = F.transform(
        adjacent_pairs(syms),
        lambda p: F.struct(
            p["a"].alias("s1"),
            p["b"].alias("s2"),
            F.lit(None).cast("string").alias("s3"),
        ),
    )
    return (
        vocab.select("n", F.explode(F.concat(pairs, triples)).alias("g"))
        .groupBy(
            F.col("g.s1").alias("s1"),
            F.col("g.s2").alias("s2"),
            F.col("g.s3").alias("s3"),
        )
        .agg(F.sum("n").cast("long").alias("cnt"))
        .select(
            F.when(F.col("s3").isNull(), F.lit("p")).otherwise(F.lit("t")).alias(
                "kind"
            ),
            "s1",
            "s2",
            "s3",
            "cnt",
        )
    )


def _select_batch(
    rows: list, min_count: int, max_batch: int, complete: bool = False
) -> list[tuple[str, str, int]]:
    """Driver-side batch selection from ONE collected top-window of
    combined pair/triple counts. Returns the longest ranked PREFIX of
    pairs that provably reproduces the sequential merge sequence:

    * prefix, never skip: a higher-ranked pair passed over for overlap
      could still outrank later picks in the true sequence;
    * count-STABLE against every earlier accepted merge: symbol-disjoint
      pairs are always stable (a merge (a, b) neither destroys nor
      creates an adjacency of two other symbols); an OVERLAPPING pair
      (c, d) is also stable — and accepted — when its interaction
      triples are provably ZERO in a complete window: applying (a, b)
      destroys a (c, d) occurrence only at a triple (a, b, d) site
      (when c == b, the c consumed as the b of the merge) or a
      (c, a, b) site (when d == a, the d consumed as the a), so absent
      triples mean the count is EXACTLY unchanged. This is what lets a
      batch keep growing past th/he-style chains whose bridging triple
      does not occur;
    * strictly above the new-pair bound: pairs created by earlier batch
      merges are bounded by the adjacent-triple counts (see
      :func:`pair_and_triple_counts`); a window row missing means its
      count is <= the window cutoff, which is used as the conservative
      bound.

    Old non-batch pairs can only lose count, and snapshot rank already
    encodes the (cnt DESC, a ASC, b ASC) tie-break, so nothing else can
    beat an accepted pair at its turn. Anything unprovable ends the
    batch — correctness never rides on the window size.

    ``complete=True`` means the window holds EVERY pair/triple (the
    aggregate had fewer rows than the window); a truncated window
    additionally stops the prefix at the cutoff count, because a pair
    TIED at the cutoff may have been cut by the limit yet outrank a
    collected same-count pair lexicographically."""
    if not rows:
        return []
    cutoff = min(r["cnt"] for r in rows)
    pairs = sorted(
        ((r["cnt"], r["s1"], r["s2"]) for r in rows if r["kind"] == "p"),
        key=lambda t: (-t[0], t[1], t[2]),
    )
    tri_bound: dict[tuple[str, str], int] = {}
    tri_cnt: dict[tuple[str, str, str], int] = {}
    for r in rows:
        if r["kind"] != "t":
            continue
        tri_cnt[(r["s1"], r["s2"], r["s3"])] = r["cnt"]
        for key in ((r["s1"], r["s2"]), (r["s2"], r["s3"])):
            tri_bound[key] = max(tri_bound.get(key, 0), r["cnt"])

    def stable(c: str, d: str, accepted) -> bool:
        """(c, d)'s count provably unchanged by every accepted merge."""
        for a, b, _cnt in accepted:
            if c == b and (not complete or tri_cnt.get((a, b, d), 0) > 0):
                return False
            if d == a and (not complete or tri_cnt.get((c, a, b), 0) > 0):
                return False
        return True

    batch: list[tuple[str, str, int]] = []
    bound = 0  # max count any batch-created pair could have
    for cnt, a, b in pairs:
        if cnt < min_count:
            break
        if batch:
            if (
                len(batch) >= max_batch
                or cnt <= bound
                or not stable(a, b, batch)
            ):
                break
            if not complete and cnt <= cutoff:
                break  # a tied-at-cutoff pair may be missing from the window
        batch.append((a, b, int(cnt)))
        # triples adjacent to (a, b) absent from a COMPLETE window do
        # not exist; absent from a truncated one they are <= the cutoff
        bound = max(bound, tri_bound.get((a, b), 0 if complete else cutoff))
    return batch


def _greedy_apply(s: tuple, a: str, b: str) -> tuple:
    """Greedy left-to-right non-overlapping (a, b) -> a+b on a symbol
    tuple — driver twin of :func:`apply_merge` (same semantics)."""
    out, i, ln = [], 0, len(s)
    ab = a + b
    while i < ln:
        if i + 1 < ln and s[i] == a and s[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(s[i])
            i += 1
    return tuple(out)


def _local_merge_loop(
    vocab: dict[str, tuple[int, tuple]], n_merges: int, min_count: int
) -> list[tuple[int, str, str, int]]:
    """Exact indexed Sennrich loop over a DRIVER-side (word -> (count,
    symbols)) table: pair counts and a pair -> words occurrence index
    are maintained incrementally (remove-then-readd per affected word),
    so each merge costs O(affected words · word length) plus one argmax
    — the classic fast single-node trainer. Mutates ``vocab`` in place;
    identical merge sequence and tie-break (cnt DESC, pair lex ASC) to
    the distributed loop (property-pinned in tests)."""
    from collections import Counter, defaultdict

    pc: Counter = Counter()
    idx: defaultdict = defaultdict(set)
    for w, (n, s) in vocab.items():
        for p in zip(s, s[1:]):
            pc[p] += n
            idx[p].add(w)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((step, a, b, int(cnt)))
        for w in list(idx.get((a, b), ())):
            n, s = vocab[w]
            for p in zip(s, s[1:]):
                pc[p] -= n
                if pc[p] == 0:
                    del pc[p]
                idx[p].discard(w)
            s2 = _greedy_apply(s, a, b)
            vocab[w] = (n, s2)
            for p in zip(s2, s2[1:]):
                pc[p] += n
                idx[p].add(w)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 20,
    min_count: int = 2,
    end_marker: str = END_MARKER,
    checkpoint_every: int = 5,
    batch_pairs: int = 64,
    window: int = 512,
    local_below: int = 100_000,
    stats: dict | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, vocab)``: the learned merge list
    ``(step, a, b, count)`` in order, and the final symbolized vocab
    frame ``(w, n, syms)``. Stops early when no pair reaches
    ``min_count``. The merge list IS the tokenizer artifact — applying
    it in order to new text reproduces the segmentation.

    TWO-REGIME execution (both sequence-exact, property-pinned equal):

    * FIT-SMALL fast path: the merge loop is a pure function of the
      bounded (word, count) table, so when the distinct vocab fits under
      ``local_below`` rows it is collected ONCE (a few MB at the
      default 100k cap) and trained with the indexed single-node loop
      (:func:`_local_merge_loop`) — the same fit-small/transform-wide
      split the engine's kNN / centroid fitting uses, and what every
      production tokenizer trainer (SentencePiece, HF) does after the
      distributed count. Zero per-merge Spark jobs. Set
      ``local_below=0`` to force the distributed loop.
    * DISTRIBUTED loop with MERGE BATCHING for vocabularies that don't
      fit: each Spark job collects one top-``window`` slice of combined
      pair+triple counts (:func:`pair_and_triple_counts` — triples
      upper-bound every pair a merge can create), and
      :func:`_select_batch` accepts the longest ranked prefix of
      count-stable pairs each strictly above the new-pair bound — every
      accepted merge is PROVABLY the one the one-merge-per-job trainer
      would pick next, so the merge list is byte-identical
      (property-tested against the single-step trainer and the local
      reference in tests/test_ml.py), while merges-per-job grows with
      the batch size. ``batch_pairs=1`` recovers the single-merge
      schedule. The only driver-side data movement is the bounded
      top-window per iteration; vocab stays distributed throughout.

    Observability: pass ``stats={}`` and the trainer fills it with the
    regime taken, the number of per-iteration Spark jobs, the accepted
    batch size per job, and the final window — the numbers that tell
    you whether batching is actually amortizing the per-job floor on
    YOUR corpus (bench prints them for t20b_dist). When a job's window
    came back FULL (truncated aggregate) and the accepted batch was
    smaller than allowed — i.e. the window, not provability, may be the
    limiter — the next iteration doubles the window (cap 8192): tied or
    chained pair distributions stop batching at small windows because
    the cutoff bound kicks in, and a wider snapshot restores the proof
    headroom at the cost of a bigger TakeOrdered.

    Iteration cost model (measured at sf0.1, 107 merges): eagerly
    materializing EVERY step (cache+count) costs a second Spark job per
    merge — 0.342 s/merge; keeping steps LAZY between
    ``localCheckpoint`` truncations instead re-derives at most
    ``checkpoint_every - 1`` fold expressions per pass (pure column
    compute over the vocab frame, no extra shuffle) — 0.175 s/merge;
    batching then amortizes the per-JOB scheduler floor across every
    merge certified from the same snapshot. That inverts only when the
    vocab frame is so large that re-folds rival a shuffle; lower
    ``checkpoint_every`` toward 1 there (at 10M vocab rows the fold is
    still map-only, so the crossover is late).
    """
    if n_merges <= 0:
        raise ValueError(f"bpe_train: n_merges must be > 0, got {n_merges}")
    if checkpoint_every < 1:
        raise ValueError(
            f"bpe_train: checkpoint_every must be >= 1, got {checkpoint_every} "
            "(0 divides by zero; negatives would never truncate lineage)"
        )
    if batch_pairs < 1:
        raise ValueError(f"bpe_train: batch_pairs must be >= 1, got {batch_pairs}")
    if stats is None:
        stats = {}
    stats.update(regime=None, jobs=0, batch_sizes=[], mean_batch=0.0,
                 window_final=window)
    vocab = vocab_table(df, text_col, end_marker).localCheckpoint(eager=True)
    if local_below and vocab.count() <= local_below:
        stats["regime"] = "local"
        local = {
            r["w"]: (int(r["n"]), tuple(r["syms"])) for r in vocab.collect()
        }
        merges = _local_merge_loop(local, n_merges, min_count)
        out_vocab = local_frame(
            df.sparkSession,
            [(w, n, list(s)) for w, (n, s) in sorted(local.items())],
            "w string, n long, syms array<string>",
        )
        return merges, out_vocab
    merges = []
    last_ckpt = 0
    # Loop-scoped session tuning in a CLONED session (session.loop_session):
    # every iteration is a FIXED-SHAPE micro-job — partial agg, one
    # shuffle, TakeOrdered — so (a) AQE's per-stage re-planning only
    # adds driver latency (there is nothing left to re-plan), and
    # (b) shuffle partitions sized to the vocab frame's own
    # partitioning beat the session default at both ends (1 reducer
    # for a small vocab; the input's parallelism for a 10M-word
    # vocab). Measured at sf0.1: ~2x per-iteration latency. The
    # caller's session conf is never written, and the result is
    # handed back with adopt_frame, so callers only ever see their own
    # session's frames.
    with loop_session(
        vocab, shuffle_partitions=vocab.rdd.getNumPartitions()
    ) as (_sess, (vocab,)):
        stats["regime"] = "distributed"
        while len(merges) < n_merges:
            rows = (
                pair_and_triple_counts(vocab)
                .orderBy(F.desc("cnt"), F.asc("kind"), F.asc("s1"), F.asc("s2"))
                .limit(window)
                .collect()
            )
            allowed = min(batch_pairs, n_merges - len(merges))
            batch = _select_batch(
                rows, min_count, allowed, complete=len(rows) < window
            )
            stats["jobs"] += 1
            stats["batch_sizes"].append(len(batch))
            if len(rows) == window and len(batch) < allowed and window < 8192:
                # the truncated window's cutoff bound may be what ended
                # the batch — widen the snapshot for the next job
                window = min(window * 2, 8192)
                stats["window_final"] = window
            if not batch:
                break
            for a, b, cnt in batch:
                merges.append((len(merges), a, b, cnt))
                # LAZY between checkpoints: the argmax collect is the
                # only job; <= checkpoint_every-1 map-only fold
                # expressions are re-derived on top of the last
                # checkpoint — see the cost model in the docstring
                vocab = vocab.withColumn("syms", apply_merge(F.col("syms"), a, b))
            if len(merges) - last_ckpt >= checkpoint_every:
                vocab = vocab.localCheckpoint(eager=True)
                last_ckpt = len(merges)
        vocab = adopt_frame(df.sparkSession, vocab.localCheckpoint(eager=True))
    sizes = [s for s in stats["batch_sizes"] if s]
    stats["mean_batch"] = round(sum(sizes) / len(sizes), 2) if sizes else 0.0
    return merges, vocab


def make_word_encoder(ranks: dict, end_marker: str = END_MARKER):
    """Per-word BPE encode closure: repeatedly merge the LOWEST-RANK
    adjacent pair, leftmost occurrence first — the standard greedy
    serving loop — in O(L log L) instead of the naive rescan-per-merge
    O(L²): a lazy min-heap of (rank, left position) candidates over a
    doubly linked symbol list. Node positions are the ORIGINAL index of
    each node's leftmost character (a merge keeps the left node), so
    heap order (rank, pos) is exactly lowest-rank-then-leftmost at all
    times; stale entries are skipped by re-checking the pair against
    the live symbols. The long-token adversary (one character repeated
    thousands of times under chained self-merges) that cliffs the
    rescan loop runs linearithmic here — equality with the reference
    loop is property-pinned in tests/test_llm_ops.py."""
    import heapq

    def encode_word(word: str) -> list[str]:
        syms = [*word, end_marker]
        n = len(syms)
        if n < 2:
            return syms
        nxt = list(range(1, n)) + [-1]
        prv = [-1] + list(range(n - 1))
        alive = [True] * n
        heap = []
        for i in range(n - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None:
                heap.append((r, i, syms[i], syms[i + 1]))
        heapq.heapify(heap)
        while heap:
            r, i, a, b = heapq.heappop(heap)
            if not alive[i] or syms[i] != a:
                continue  # stale: left node merged away or rewritten
            j = nxt[i]
            if j == -1 or syms[j] != b:
                continue  # stale: the pair no longer exists here
            syms[i] = a + b
            alive[j] = False
            nj = nxt[j]
            nxt[i] = nj
            if nj != -1:
                prv[nj] = i
            p = prv[i]
            if p != -1:
                rp = ranks.get((syms[p], syms[i]))
                if rp is not None:
                    heapq.heappush(heap, (rp, p, syms[p], syms[i]))
            if nj != -1:
                rn = ranks.get((syms[i], syms[nj]))
                if rn is not None:
                    heapq.heappush(heap, (rn, i, syms[i], syms[nj]))
        out_syms = []
        i = 0
        while i != -1:
            out_syms.append(syms[i])
            i = nxt[i]
        return out_syms

    return encode_word


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[int, str, str, int]] | list[tuple[str, str]],
    end_marker: str = END_MARKER,
    out: str = "tokens",
) -> DataFrame:
    """Serving half of the tokenizer: segment text with a LEARNED merge
    list (rank-ordered greedy merging — the standard BPE encode loop).

    For the handful-of-merges case the pure-plan route (chained
    ``apply_merge`` folds) works, but a production tokenizer carries
    10k-100k merges and a 100k-deep expression tree breaks codegen; the
    realistic path is this Arrow-batched ``mapInPandas`` encoder with
    the merge-rank dict shipped in the closure (it is O(vocab) small —
    the classic fit-small/transform-wide split). Always-lowest-rank-
    first merging, byte-identical to the reference encode loop pinned in
    tests/test_ml.py.
    """
    ranks = {}
    for m in merges:
        a, b = (m[1], m[2]) if len(m) >= 3 else (m[0], m[1])
        ranks.setdefault((a, b), len(ranks))

    encode_word = make_word_encoder(ranks, end_marker)

    import re as _re

    # the JVM-side word model (_words) splits on Java's ASCII \s class;
    # Python's \s is Unicode-aware and would split NBSP/ideographic
    # spaces the trainer treated as word-internal — use the exact Java
    # class so serving segmentation matches training byte-for-byte
    _java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    def batches(it):
        for pdf in it:
            toks = [
                [t for w in _java_ws.split(txt or "") if w
                 for t in encode_word(w)]
                for txt in pdf[text_col]
            ]
            yield pdf[[id_col]].assign(**{out: toks})

    id_type = dict(df.dtypes)[id_col]
    return df.select(id_col, text_col).mapInPandas(
        batches, f"{id_col} {id_type}, {out} array<string>"
    )
