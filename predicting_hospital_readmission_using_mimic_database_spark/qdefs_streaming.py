"""Streaming query definitions.

The streams themselves aren't SQL-expressible, but their CONTRACT is:
each entry's emitted row carries counts the batch semantics determine
exactly (resolvable-event count, group count, deduped count), and the
DuckDB oracle recomputes those counts from the same events.parquet — so
a stream that drops, duplicates, or mislabels anything breaks the hash.
tests/test_streaming.py drives the same equivalence as a pytest."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from .plans.readmission import readmit_labels
from .registry import query
from .session import local_frame
from .sources.io import read_table
from .streaming import ingest as ING

#: the micro-batch staging below round-trips events through the driver
#: (toPandas -> chunked parquet) — test scaffolding, NOT an ingest path.
#: Cap it so the entry refuses to collect a big-sf table instead of
#: OOMing the driver; real streams read files/Kafka directly.
_MAX_STAGED_ROWS = 2_000_000


def _stage_event_chunks(spark, sf: str, src: str, n_chunks: int = 3) -> None:
    """Split the events table into ts-ordered parquet micro-batch files."""
    from .session import tune_session

    tune_session(spark)  # nanosAsLong for the raw int64-ts read
    raw = spark.read.parquet(os.path.join(sf, "events.parquet"))
    n = raw.count()
    if n > _MAX_STAGED_ROWS:
        raise ValueError(
            f"streaming entry staging collects the events table to the "
            f"driver ({n} rows > cap {_MAX_STAGED_ROWS}); run at a smaller "
            "sf — production streams read sources directly"
        )
    pdf = raw.orderBy("ts", "event_id").toPandas()
    if str(pdf["ts"].dtype) != "int64":
        # testdata may store ts as TIMESTAMP(MICROS) instead of int64 nanos;
        # stage chunks as int64 nanos so EVENT_SCHEMA stays one format
        import pandas as pd

        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[ns]").astype("int64")
    per = (len(pdf) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        pdf.iloc[i * per : (i + 1) * per].to_parquet(
            os.path.join(src, f"chunk_{i}.parquet")
        )


@query(
    "st1_stream_labels_equivalence",
    oracle="""
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
    )
    SELECT CAST(count(*) FILTER (WHERE next_unplanned_ts IS NOT NULL) AS BIGINT)
             AS n_stream,
           CAST(count(*) FILTER (WHERE next_unplanned_ts IS NOT NULL) AS BIGINT)
             AS n_batch_resolvable,
           CAST(0 AS BIGINT) AS n_mismatched
    FROM filled
    """,
)
def q_st1(spark, sf):
    """Incremental readmission labels over micro-batches == batch labels
    for every batch-resolvable event (custom stateful operator,
    applyInPandasWithState keyed by user). The oracle recomputes the
    batch-resolvable count with the flagship window chain in DuckDB; the
    streamed label SET must match the batch SET element-for-element
    (n_mismatched = symmetric difference = 0)."""
    tmp = tempfile.mkdtemp(prefix="st1_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st1_out"
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.readmit_labels_stream(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r["event_id"], r["next_unplanned_us"], r["readmit_30d"])
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        batch = readmit_labels(read_table(spark, sf, "events"))
        want = {
            (r["event_id"], r["nus"], r["readmit_30d"])
            for r in batch.filter(F.col("next_unplanned_ts").isNotNull())
            .select(
                "event_id",
                F.unix_micros("next_unplanned_ts").alias("nus"),
                "readmit_30d",
            )
            .collect()
        }
        return spark.createDataFrame(
            [(len(got), len(want), len(got ^ want))],
            "n_stream long, n_batch_resolvable long, n_mismatched long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st2_stream_enrich_equivalence",
    oracle="""
    WITH d AS (
      SELECT * FROM (VALUES ('purchase', 3), ('error', 5), ('login', 1))
        AS t(event_type, severity)
    ),
    j AS (SELECT severity FROM events LEFT JOIN d USING (event_type))
    SELECT CAST(count(DISTINCT severity)
                + max(CASE WHEN severity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups,
           TRUE AS matches_batch
    FROM j
    """,
)
def q_st2(spark, sf):
    """Stream-static broadcast enrichment == the batch join: per-severity
    counts after joining the event stream to a static dimension. The
    oracle recomputes the group count (incl. the unmatched-NULL group)
    with the same join in DuckDB; per-group count equality with the batch
    join is the boolean."""
    tmp = tempfile.mkdtemp(prefix="st2_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st2_out"
    dim = spark.createDataFrame(
        [("purchase", 3), ("error", 5), ("login", 1)],
        "event_type string, severity int",
    )
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.enrich_stream(stream, dim, "event_type")
            .groupBy("severity")
            .count()
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=2)
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r["severity"]: r["count"]
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        want = {
            r["severity"]: r["count"]
            for r in read_table(spark, sf, "events")
            .join(dim, "event_type", "left")
            .groupBy("severity")
            .count()
            .collect()
        }
        return spark.createDataFrame(
            [(len(got), bool(got == want))],
            "n_groups long, matches_batch boolean",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st3_stream_dedup",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_stream,
           CAST(count(*) AS BIGINT) AS n_batch,
           TRUE AS dedup_exact
    FROM events
    """,
)
def q_st3(spark, sf):
    """Watermark-bounded streaming dedup: a redelivered micro-batch is
    fully dropped; output ids are unique and count the batch table — the
    oracle recomputes that count from events.parquet, so any surviving
    redelivery breaks the hash."""
    tmp = tempfile.mkdtemp(prefix="st3_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st3_out"
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.dedup_stream(stream, ["event_id"], watermark="7 days")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=2)
            # redeliver the first chunk as a new file (at-least-once source)
            shutil.copy(
                os.path.join(src, "chunk_0.parquet"),
                os.path.join(src, "chunk_0_redelivery.parquet"),
            )
            q.processAllAvailable()
        finally:
            q.stop()
        ids = [r["event_id"] for r in spark.sql(f"SELECT event_id FROM {qname}").collect()]
        n_batch = read_table(spark, sf, "events").count()
        return spark.createDataFrame(
            [(len(ids), n_batch, bool(len(ids) == len(set(ids)) == n_batch))],
            "n_stream long, n_batch long, dedup_exact boolean",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st4_stream_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def q_st4(spark, sf):
    """Streaming tumbling-window counts == batch GROUP BY, value-exact:
    the events table streams in as 3 micro-batch files, a watermarked
    1-hour event-time window counts per type (state evicted as the
    watermark passes), and the COMPLETE result set must hash-match
    DuckDB's date_trunc aggregation of the same parquet — every window,
    every type, every count."""
    tmp = tempfile.mkdtemp(prefix="st4_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st4_out"
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.windowed_event_counts(stream, window="1 hour", watermark="1 day")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(
            f"SELECT window_start, event_type, n FROM {qname}"
        )
        # materialize before the temp view disappears with the query
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st5_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.ts AS purchase_ts, v.ts AS view_ts
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
)
def q_st5(spark, sf):
    """STREAM-STREAM event-time interval join == the batch range join,
    value-exact: purchases join the same user's views from the preceding
    hour. Both sides are watermarked (state eviction: a view older than
    watermark + 1h can never match a future purchase) and the range
    condition bounds the buffered state; inner joins emit eagerly, so the
    complete result is available once all micro-batches process. DuckDB
    recomputes every (purchase, view) pair from the same parquet."""
    tmp = tempfile.mkdtemp(prefix="st5_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st5_out"
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.interval_join_stream(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(
            f"SELECT purchase_id, view_id, purchase_ts, view_ts FROM {qname}"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st6_stream_session_windows",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_st6(spark, sf):
    """Streaming SESSION WINDOWS (dynamic-gap windows, session_window) ==
    batch gap-based sessionization, value-exact: every (user, session)
    with its start, end (last event + 30 min gap — Spark's window-end
    semantics, merge iff gap < 30 min strictly), and event count must
    hash-match DuckDB's lag/cumsum sessionization of the same parquet.
    Complete-mode memory sink; state finalizes/evicts as the watermark
    passes in production append mode."""
    tmp = tempfile.mkdtemp(prefix="st6_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st6_out"
    try:
        stream = ING.stream_events(spark, src)
        q = (
            ING.sessionized_counts(stream, gap="30 minutes", watermark="1 day")
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(
            f"SELECT user_id, session_start, session_end, n_events FROM {qname}"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st7_checkpoint_recovery",
    oracle="SELECT event_id, user_id, event_type FROM events",
)
def q_st7(spark, sf):
    """Streaming CHECKPOINT RECOVERY with an exactly-once file sink: the
    stream writes parquet under a checkpointLocation, is STOPPED after
    the first micro-batch, then a NEW query object resumes from the same
    checkpoint and drains the remaining chunks. The final sink contents
    must equal the batch table row-for-row — a lost offset re-reads
    (duplicates) or a skipped offset drops rows, and either breaks the
    hash. This is the fault-tolerance contract a production ingest
    relies on; the memory-sink entries can't exercise it."""
    tmp = tempfile.mkdtemp(prefix="st7_")
    src = os.path.join(tmp, "src")
    out = os.path.join(tmp, "out")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(src)
    try:
        def start():
            return (
                ING.stream_events(spark, src)
                .select("event_id", "user_id", "event_type")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )

        _stage_event_chunks(spark, sf, src, n_chunks=3)
        # phase 1: hold chunks 1-2 OUTSIDE the source dir (the file
        # source tracks paths — an in-place rename would register as a
        # brand-new file later and double-ingest), drain chunk 0, stop.
        held_dir = os.path.join(tmp, "held")
        os.makedirs(held_dir)
        for i in (1, 2):
            os.rename(
                os.path.join(src, f"chunk_{i}.parquet"),
                os.path.join(held_dir, f"chunk_{i}.parquet"),
            )
        q = start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # phase 2: a fresh query resumes from the checkpoint, must skip
        # the already-committed chunk 0 and drain exactly chunks 1-2
        for i in (1, 2):
            os.rename(
                os.path.join(held_dir, f"chunk_{i}.parquet"),
                os.path.join(src, f"chunk_{i}.parquet"),
            )
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = spark.read.parquet(out).select("event_id", "user_id", "event_type")
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st8_upsert_materialized_view",
    oracle="""
    SELECT event_type, count(*) AS count FROM events GROUP BY event_type
    """,
)
def q_st8(spark, sf):
    """Streaming UPSERT-maintained materialized view: update-mode
    cumulative counts flow through foreachBatch into a parquet state
    table via merge_upsert (matched keys overwritten, new keys
    inserted; cumulative values make replays idempotent). After the
    last micro-batch the state table must equal the batch GROUP BY —
    the composition of the streaming and MERGE operators, oracled
    exactly."""
    tmp = tempfile.mkdtemp(prefix="st8_")
    src = os.path.join(tmp, "src")
    state = os.path.join(tmp, "state")
    ckpt = os.path.join(tmp, "ckpt")
    os.makedirs(src)
    try:
        q = ING.upsert_counts_sink(
            ING.stream_events(spark, src), state, ckpt, key="event_type"
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        got = spark.read.parquet(state)
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st9_stream_snapshot_sink",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events GROUP BY event_type
    """,
)
def q_st9(spark, sf):
    """EXACTLY-ONCE streaming ingestion into the ACID SnapshotTable
    (streaming.ingest.snapshot_append_sink): each micro-batch lands as
    one atomic commit carrying txn=(app, batch_id). The entry then
    RE-RUNS the whole stream against the same table with a FRESH
    checkpoint — the worst-case replay, every batch re-delivered — and
    the txn high-water mark inside the commit log dedupes all of it.
    The final per-type (count, sum) must equal the batch aggregate over
    events.parquet: one duplicated or dropped row anywhere breaks the
    hash. foreachBatch alone is at-least-once; the table txn is what
    upgrades it."""
    from .sources.table import SnapshotTable

    tmp = tempfile.mkdtemp(prefix="st9_")
    src = os.path.join(tmp, "src")
    tbl = os.path.join(tmp, "tbl")
    os.makedirs(src)
    try:
        SnapshotTable.create(
            spark, tbl, "event_id long, event_type string, value double"
        )

        def run(ckpt: str):
            s = ING.stream_events(spark, src).select(
                "event_id", "event_type", "value"
            )
            q = ING.snapshot_append_sink(
                s, tbl, os.path.join(tmp, ckpt), app_id="st9"
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        _stage_event_chunks(spark, sf, src, n_chunks=3)
        run("ck1")
        run("ck2")  # full replay from a fresh checkpoint: must all dedupe
        t = SnapshotTable(spark, tbl)
        got = (
            t.read()
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.round(F.sum("value"), 4).alias("total"),
            )
        )
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st10_stream_psi",
    oracle="""
    WITH r AS (SELECT min(value) AS lo, max(value) AS hi FROM events
               WHERE value IS NOT NULL),
    ref AS (
      SELECT least(9, greatest(0,
               CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INT))) AS bin,
             count(*) AS n_exp
      FROM events, r WHERE value IS NOT NULL GROUP BY 1
    ),
    act AS (
      SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS win_sec,
             least(9, greatest(0,
               CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS INT))) AS bin,
             count(*) AS n_act
      FROM events, r WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    grid AS (
      SELECT w.win_sec, b.b AS bin
      FROM (SELECT DISTINCT win_sec FROM act) w, range(10) b(b)
    ),
    j AS (
      SELECT g.win_sec, g.bin,
             coalesce(ref.n_exp, 0) AS n_exp, coalesce(act.n_act, 0) AS n_act
      FROM grid g
      LEFT JOIN ref ON ref.bin = g.bin
      LEFT JOIN act ON act.win_sec = g.win_sec AND act.bin = g.bin
    ),
    tot AS (SELECT sum(n_exp) AS te FROM ref),
    wt AS (SELECT win_sec, sum(n_act) AS ta FROM j GROUP BY 1)
    SELECT j.win_sec,
           round(sum(((j.n_act + 0.5) / (wt.ta + 5.0)
                      - (j.n_exp + 0.5) / (tot.te + 5.0))
                     * ln(((j.n_act + 0.5) / (wt.ta + 5.0))
                          / ((j.n_exp + 0.5) / (tot.te + 5.0)))), 8) AS psi
    FROM j, tot, wt WHERE wt.win_sec = j.win_sec
    GROUP BY j.win_sec
    """,
)
def q_st10(spark, sf):
    """ST10 — STREAMING drift monitor: the stream counts per-(1-day
    event-time window, value-bin) occurrences incrementally (watermarked
    state), and a bounded batch fold turns each window's bin histogram
    into its PSI against the WHOLE-table reference distribution — the
    serving-time alarm wired from streaming counts + the m13 arithmetic.
    Every per-window PSI must hash-match DuckDB's batch recompute: a
    drop, duplicate, or mis-binned row anywhere in the stream moves some
    window's 8-decimal PSI."""
    tmp = tempfile.mkdtemp(prefix="st10_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    qname = "st10_out"
    try:
        from .sources.io import read_table

        e = read_table(spark, sf, "events").filter(F.col("value").isNotNull())
        lo, hi = e.agg(F.min("value"), F.max("value")).collect()[0]
        ref = (
            e.select(
                F.least(
                    F.lit(9),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col("value") - F.lit(lo)) / F.lit((hi - lo) / 10.0)).cast("int"),
                    ),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias("n_exp"))
        )
        q = (
            ING.windowed_bin_counts(
                ING.stream_events(spark, src), lo=lo, hi=hi, n_bins=10,
                window="1 day", watermark="1 day",
            )
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .start()
        )
        try:
            _stage_event_chunks(spark, sf, src, n_chunks=3)
            q.processAllAvailable()
        finally:
            q.stop()
        act = spark.sql(f"SELECT win_sec, bin, n_act FROM {qname}")
        act = spark.createDataFrame(act.collect(), act.schema)
        # bounded fold: (windows x 10) rows — full bin grid so absent
        # bins contribute their smoothed zero terms exactly like m13
        grid = act.select("win_sec").distinct().crossJoin(
            spark.range(10).select(F.col("id").cast("int").alias("bin"))
        )
        j = (
            grid.join(act, ["win_sec", "bin"], "left")
            .join(F.broadcast(ref), "bin", "left")
            .fillna(0, subset=["n_act", "n_exp"])
        )
        te = float(ref.agg(F.sum("n_exp")).collect()[0][0])
        wt = j.groupBy("win_sec").agg(F.sum("n_act").alias("__ta"))
        s = F.lit(0.5)
        p_act = (F.col("n_act") + s) / (F.col("__ta") + 5.0)
        p_exp = (F.col("n_exp") + s) / F.lit(te + 5.0)
        return (
            j.join(wt, "win_sec")
            .groupBy("win_sec")
            .agg(F.round(F.sum((p_act - p_exp) * F.log(p_act / p_exp)), 8).alias("psi"))
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st11_stream_merge_mv",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def q_st11(spark, sf):
    """ST11 — exactly-once streaming MATERIALIZED VIEW via ACID MERGE
    (streaming.ingest.snapshot_merge_sink): update-mode cumulative
    counts merge into a BUCKETED SnapshotTable with the batch id as the
    commit txn, then the stream is RE-RUN from a fresh checkpoint — the
    worst-case replay — and the txn high-water mark must make every
    re-delivered merge a no-op commit-protocol-side. The final table
    must equal the batch GROUP BY, and the replay must add ZERO commits
    (asserted into the history before the result is returned). This is
    st8's materialized view upgraded from atomic-dir-swap idempotence to
    versioned ACID commits a concurrent reader can time-travel."""
    from .sources.table import SnapshotTable

    tmp = tempfile.mkdtemp(prefix="st11_")
    src = os.path.join(tmp, "src")
    tbl = os.path.join(tmp, "tbl")
    os.makedirs(src)
    try:
        SnapshotTable.create(
            spark, tbl, "event_type string, n long",
            bucket_key=["event_type"], num_buckets=4,
        )

        def run(ck):
            counts = (
                ING.stream_events(spark, src)
                .filter(F.col("event_type").isNotNull())
                .groupBy("event_type")
                .agg(F.count("*").cast("long").alias("n"))
            )
            q = ING.snapshot_merge_sink(
                counts, tbl, os.path.join(tmp, ck), app_id="st11"
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        _stage_event_chunks(spark, sf, src, n_chunks=3)
        run("ck1")
        t = SnapshotTable(spark, tbl)
        v_before = t.version
        run("ck2")  # full replay: every merge must dedupe inside the log
        t2 = SnapshotTable(spark, tbl)
        if t2.version != v_before:
            raise AssertionError(
                f"st11 replay committed {t2.version - v_before} new versions"
            )
        got = t2.read()
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st12_stream_table_changes",
    oracle="""
    SELECT 'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
           c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer
    UNION ALL
    SELECT 'delete', 2, c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT)
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT 'insert', 2, c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) + 100
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT 'insert', 2, c_custkey + 10000000, CAST(0 AS BIGINT)
    FROM customer WHERE c_custkey % 97 = 0
    """,
)
def q_st12(spark, sf):
    """ST12 — the SnapshotTable CDC feed as a STRUCTURED STREAMING
    SOURCE (sources/pydatasource.py, PySpark 4 Python Data Source API):
    ``spark.readStream.format("snapshot_changes")`` with the committed
    table VERSION as the streaming offset — driver-side KBs — and each
    micro-batch reading only the files its commits touched, split per
    (commit, bucket) across executors. The entry drains the whole
    history with availableNow/foreachBatch and hash-matches the exact
    expected feed DuckDB recomputes from the base table: the v1 append
    is a full insert feed, the v2 bucket-pruned MERGE contributes each
    updated key's delete pre-image + insert post-image plus the new
    keys, and the rewritten-but-unchanged bucket rows CANCEL (the
    executor-side multiset diff). This is the 100 TB consumption story:
    a downstream index subscribes to delta-sized changes through the
    standard streaming surface and never rescans the table."""
    from .sources.pydatasource import register_datasources
    from .sources.table import SnapshotTable

    register_datasources(spark)
    tmp = tempfile.mkdtemp(prefix="st12_")
    try:
        tbl = os.path.join(tmp, "tbl")
        c = read_table(spark, sf, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        )
        t = SnapshotTable.create(
            spark,
            tbl,
            "c_custkey bigint, bal_c bigint",
            bucket_key=["c_custkey"],
            num_buckets=8,
        )
        t.append(c)  # v1
        upd = (
            c.filter(F.col("c_custkey") % 7 == 0)
            .select("c_custkey", (F.col("bal_c") + 100).alias("bal_c"))
            .unionByName(
                c.filter(F.col("c_custkey") % 97 == 0).select(
                    (F.col("c_custkey") + 10000000).alias("c_custkey"),
                    F.lit(0).cast("long").alias("bal_c"),
                )
            )
        )
        t.merge(upd)  # v2
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", tbl)
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("c_custkey", LongType()),
                StructField("bal_c", LongType()),
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )
        return spark.createDataFrame(got, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st13_stream_pyds_sink",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_c
    FROM events GROUP BY event_type
    """,
)
def q_st13(spark, sf):
    """ST13 — EXACTLY-ONCE streaming WRITES through the standard sink
    surface (sources/pydatasource.py SnapshotStreamWriter):
    ``writeStream.format("snapshot")`` stages one parquet file per
    partition on the executors and the driver-side commit() lands the
    whole micro-batch as ONE atomic SnapshotTable commit carrying
    txn=(app, batchId). The entry re-runs the whole stream from a FRESH
    checkpoint — every batch re-delivered — and the commit-log txn
    high-water mark dedupes all of it: zero new versions (asserted), and
    the per-type (count, integer-cents sum) over the table hash-matches
    DuckDB's batch aggregate over events.parquet. Same guarantee as st9,
    now via Spark's own DataSourceStreamWriter protocol instead of
    foreachBatch."""
    from .sources.pydatasource import register_datasources
    from .sources.table import SnapshotTable

    register_datasources(spark)
    tmp = tempfile.mkdtemp(prefix="st13_")
    src = os.path.join(tmp, "src")
    tbl = os.path.join(tmp, "tbl")
    os.makedirs(src)
    try:
        SnapshotTable.create(
            spark, tbl, "event_id long, event_type string, value_c long"
        )

        def run(ck):
            s = ING.stream_events(spark, src).select(
                "event_id",
                "event_type",
                F.floor(F.col("value") * 100).cast("long").alias("value_c"),
            )
            q = (
                s.writeStream.format("snapshot")
                .option("path", tbl)
                .option("appid", "st13")
                .option("checkpointLocation", os.path.join(tmp, ck))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        _stage_event_chunks(spark, sf, src, n_chunks=3)
        run("ck1")
        t = SnapshotTable(spark, tbl)
        v_before = t.version
        run("ck2")  # fresh-checkpoint full replay: must all dedupe
        t2 = SnapshotTable(spark, tbl)
        if t2.version != v_before:
            raise AssertionError(
                f"st13 replay committed {t2.version - v_before} new versions"
            )
        got = (
            t2.read()
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("value_c").cast("long").alias("total_c"),
            )
        )
        rows = got.collect()
        return spark.createDataFrame(rows, got.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st14_stream_delta_tail",
    oracle="""
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
           c_mktsegment, CAST(0 AS BIGINT) AS _commit_version
    FROM customer
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) + 5000,
           c_mktsegment, 1
    FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 10 <> 0
    """,
)
def q_st14(spark, sf):
    """ST14 — a FOREIGN Delta table as a STREAMING SOURCE
    (sources/delta_stream.py): ``readStream.format("delta_stream")``
    tails a hand-built ``_delta_log`` with committed delta VERSIONS as
    offsets. The drained feed must be exactly v0's full insert set plus
    v1's appended file — WITH v1's deletion vector applied row-by-row
    while streaming (the ``c_custkey % 10 == 0`` ordinals never
    surface) and partition values materialized from the log. DuckDB
    recomputes the expected feed from the base customer rows; a wrong
    offset window, a leaked DV row, or a mis-cast partition value
    breaks the hash."""
    import glob
    import json as _json

    from .sources.delta_stream import register_delta_stream
    from .sources.dv import write_dv_file

    register_delta_stream(spark)
    tmp = tempfile.mkdtemp(prefix="st14_")
    try:
        root = os.path.join(tmp, "tbl")
        os.makedirs(root, exist_ok=True)
        c = read_table(spark, sf, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
            "c_mktsegment",
        )
        segs = sorted(
            r["c_mktsegment"]
            for r in c.select("c_mktsegment").distinct().collect()
        )

        def put(df, rel):
            stage = os.path.join(root, rel + ".stage")
            df.coalesce(1).write.parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(root, rel))
            shutil.rmtree(stage)

        def add(rel, seg, dv=None):
            a = {
                "path": rel,
                "partitionValues": {"c_mktsegment": seg},
                "size": 1,
                "modificationTime": 0,
                "dataChange": True,
            }
            if dv:
                a["deletionVector"] = dv
            return {"add": a}

        log = os.path.join(root, "_delta_log")
        os.makedirs(log, exist_ok=True)

        def commit(v, actions):
            with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
                for a in actions:
                    f.write(_json.dumps(a) + "\n")

        adds0 = []
        for i, s in enumerate(segs):
            rel = f"seg{i}.parquet"
            put(
                c.filter(F.col("c_mktsegment") == s).select(
                    "c_custkey", "bal_c"
                ),
                rel,
            )
            adds0.append(add(rel, s))
        commit(
            0,
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "st14",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": c.schema.json(),
                        "partitionColumns": ["c_mktsegment"],
                        "configuration": {},
                    }
                },
            ]
            + adds0,
        )
        # v1: per segment, append a bonus file (that segment's %5 keys,
        # +5000) under its TRUE partition value, each carrying a DV
        # that kills the %10 ordinals while the partition streams
        import pyarrow.parquet as pq

        adds1 = []
        for i, s in enumerate(segs):
            rel = f"bonus{i}.parquet"
            put(
                c.filter(
                    (F.col("c_mktsegment") == s)
                    & (F.col("c_custkey") % 5 == 0)
                ).select("c_custkey", (F.col("bal_c") + 5000).alias("bal_c")),
                rel,
            )
            keys = (
                pq.ParquetFile(os.path.join(root, rel))
                .read(columns=["c_custkey"])
                .column("c_custkey")
                .to_pylist()
            )
            dead = [j for j, k in enumerate(keys) if k % 10 == 0]
            desc = write_dv_file(os.path.join(root, f"dv_bonus{i}.bin"), dead)
            adds1.append(add(rel, s, dv=desc))
        commit(1, adds1)

        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("delta_stream")
            .option("path", root)
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("c_custkey", LongType()),
                StructField("bal_c", LongType()),
                StructField("c_mktsegment", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )
        return spark.createDataFrame(got, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st17_stream_delta_cdf",
    oracle="""
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
    FROM customer
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT),
           'update_preimage', 1
    FROM customer WHERE c_custkey % 44 = 0
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) + 700,
           'update_postimage', 1
    FROM customer WHERE c_custkey % 44 = 0
    UNION ALL
    SELECT c_custkey + 3000000, CAST(55 AS BIGINT), 'insert', 2
    FROM customer WHERE c_custkey % 37 = 0
    """,
)
def q_st17(spark, sf):
    """ST17 — a foreign Delta table's CHANGE DATA FEED as a STREAMING
    source (sources/delta_stream.py with ``readChangeFeed=true``):
    micro-batch version windows stream row-level changes instead of the
    append tail — v1's cdc file (update_preimage/update_postimage rows
    carrying their own ``_change_type``) SUPERSEDES its remove/add
    pair, which without CDF mode would have raised as a data-changing
    remove; v2's append-only insert is DERIVED from the add action.
    Drained from version 0 with availableNow into a collecting sink;
    DuckDB recomputes the expected feed — a superseded add leaking, a
    missed derived insert, or a mis-stamped version breaks the hash.
    Same fixture as s28 (qdefs_core.build_cdf_delta_fixture)."""
    from .qdefs_core import _table_root, build_cdf_delta_fixture
    from .sources.delta_stream import register_delta_stream

    register_delta_stream(spark)
    root = _table_root("st17", sf)
    build_cdf_delta_fixture(spark, sf, root)
    tmp = tempfile.mkdtemp(prefix="st17_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("delta_stream")
            .option("path", root)
            .option("startingVersion", 0)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("c_custkey", LongType()),
                StructField("bal_c", LongType()),
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )
        return spark.createDataFrame(got, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st15_stream_hudi_tail",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_mktsegment =
                      (SELECT min(c_mktsegment) FROM customer)
                  AND c_custkey % 3 = 0
                  THEN 10000 ELSE 0 END AS bal_c,
           CASE WHEN c_mktsegment =
                    (SELECT min(c_mktsegment) FROM customer)
                AND c_custkey % 3 = 0
                THEN '00000000000002' ELSE '00000000000001'
           END AS _commit_instant
    FROM customer
    """,
)
def q_st15(spark, sf):
    """ST15 — a FOREIGN Hudi COW table as a STREAMING SOURCE
    (sources/hudi_stream.py): completed timeline INSTANTS are the
    offsets, micro-batches open only the file groups whose latest
    slice landed in the window, and per-row ``_hoodie_commit_time``
    separates updates from carried-forward rows. The fixture is the
    s25 upsert shape — commit 2 rewrites the first segment's group
    with ``%3`` keys updated (stamped t2) and the rest carried forward
    under t1 — drained from instant 0 with availableNow: net semantics
    mean every customer surfaces ONCE at its final value with its own
    commit instant, which DuckDB recomputes directly; a leaked
    carried-forward duplicate or a wrong instant stamp breaks the
    row-level hash."""
    import glob

    from .sources.hudi_stream import register_hudi_stream

    register_hudi_stream(spark)
    tmp = tempfile.mkdtemp(prefix="st15_")
    try:
        root = os.path.join(tmp, "tbl")
        c = read_table(spark, sf, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
            "c_mktsegment",
        )
        segs = sorted(
            r["c_mktsegment"]
            for r in c.select("c_mktsegment").distinct().collect()
        )
        t1, t2 = "00000000000001", "00000000000002"

        def put(df, part, file_id, instant, ct_col):
            d = os.path.join(root, part)
            os.makedirs(d, exist_ok=True)
            meta = df.select(
                ct_col.alias("_hoodie_commit_time"),
                F.lit(f"{instant}_0").alias("_hoodie_commit_seqno"),
                F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
                F.lit(part).alias("_hoodie_partition_path"),
                F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                    "_hoodie_file_name"
                ),
                "c_custkey",
                "bal_c",
            )
            stage = os.path.join(root, f".stage_{file_id}_{instant}")
            meta.coalesce(1).write.parquet(stage)
            src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(
                src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet")
            )
            shutil.rmtree(stage)

        hdir = os.path.join(root, ".hoodie")
        os.makedirs(hdir, exist_ok=True)
        with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
            f.write(
                "hoodie.table.name=st15\nhoodie.table.type=COPY_ON_WRITE\n"
            )
        for i, s in enumerate(segs):
            put(c.filter(F.col("c_mktsegment") == s), s, f"fg{i}", t1,
                F.lit(t1))
        open(os.path.join(hdir, f"{t1}.commit"), "w").close()
        upd = F.col("c_custkey") % 3 == 0
        put(
            c.filter(F.col("c_mktsegment") == segs[0]).withColumn(
                "bal_c", F.col("bal_c") + F.when(upd, 10000).otherwise(0)
            ),
            segs[0], "fg0", t2,
            F.when(upd, F.lit(t2)).otherwise(F.lit(t1)),
        )
        open(os.path.join(hdir, f"{t2}.commit"), "w").close()

        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("hudi_stream")
            .option("path", root)
            .option("startingInstant", "0")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("c_custkey", LongType()),
                StructField("bal_c", LongType()),
                StructField("_commit_instant", StringType()),
            ]
        )
        return spark.createDataFrame(got, schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st16_stream_iceberg_tail",
    oracle="""
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
           CAST(1 AS BIGINT) AS _snapshot_id
    FROM customer
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) + 7000, 2
    FROM customer WHERE c_custkey % 9 = 0
    """,
)
def q_st16(spark, sf):
    """ST16 — a FOREIGN Iceberg table as a STREAMING SOURCE
    (sources/iceberg_stream.py): the incremental APPEND scan with
    snapshot-LINEAGE offsets (position + pinned snapshot id, so
    expired/rewritten history is detected, never silently replayed).
    Snapshot 1 is the exported base table; snapshot 2 is a
    hand-appended manifest (the shape a real appender commits: only
    the new file, operation 'append', entries stamped with the
    snapshot id). The availableNow drain must emit every base row
    stamped 1 and exactly the appended ``%9`` bonus rows stamped 2 —
    DuckDB recomputes the expected feed, so a re-emitted base file or
    a wrong snapshot stamp breaks the row-level hash."""
    import glob

    from .sources.avro_ocf import read_avro, write_avro
    from .sources.iceberg import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_FILE_SCHEMA,
        export_iceberg,
    )
    from .sources.iceberg_stream import register_iceberg_stream
    from .sources.table import SnapshotTable

    register_iceberg_stream(spark)
    tmp = tempfile.mkdtemp(prefix="st16_")
    try:
        root = os.path.join(tmp, "tbl")
        c = read_table(spark, sf, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        )
        t = SnapshotTable.create(spark, root, "c_custkey bigint, bal_c bigint")
        t.append(c)
        assert export_iceberg(t) == 1
        # snapshot 2: a real APPEND — one new parquet file + a manifest
        # of just that file, stacked on snapshot 1's manifests
        bonus_rel = "bonus.parquet"
        stage = os.path.join(root, bonus_rel + ".stage")
        c.filter(F.col("c_custkey") % 9 == 0).select(
            "c_custkey", (F.col("bal_c") + 7000).alias("bal_c")
        ).coalesce(1).write.parquet(stage)
        bonus = os.path.join(root, bonus_rel)
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], bonus)
        shutil.rmtree(stage)
        mdir = os.path.join(root, "metadata")
        with open(os.path.join(mdir, "version-hint.text")) as f:
            hint = f.read().strip()
        import json as _json

        with open(os.path.join(mdir, f"v{hint}.metadata.json")) as f:
            meta = _json.load(f)
        cur = next(
            s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _s, manifests = read_avro(cur["manifest-list"])
        m2 = os.path.join(mdir, "manifest-append-2.avro")
        write_avro(
            m2,
            MANIFEST_ENTRY_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 2,
                    "data_file": {
                        "content": 0,
                        "file_path": bonus,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": 1,
                        "file_size_in_bytes": os.path.getsize(bonus),
                        "equality_ids": None,
                    },
                }
            ],
        )
        ml2 = os.path.join(mdir, "snap-append-2.avro")
        write_avro(
            ml2,
            MANIFEST_FILE_SCHEMA,
            [{"sequence_number": None, **m} for m in manifests]
            + [
                {
                    "manifest_path": m2,
                    "manifest_length": os.path.getsize(m2),
                    "partition_spec_id": 0,
                    "content": 0,
                    "added_snapshot_id": 2,
                    "sequence_number": 2,
                }
            ],
        )
        meta["snapshots"].append(
            {"snapshot-id": 2, "timestamp-ms": 2,
             "summary": {"operation": "append"},
             "manifest-list": ml2, "schema-id": 0}
        )
        meta["current-snapshot-id"] = 2
        v = int(hint) + 1
        with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as f:
            _json.dump(meta, f)
        with open(os.path.join(mdir, "version-hint.text"), "w") as f:
            f.write(str(v))

        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("iceberg_stream")
            .option("path", root)
            .option("startingSnapshotCount", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got, "c_custkey long, bal_c long, _snapshot_id long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st18_stream_hudi_mor",
    oracle="""
    WITH s0 AS (SELECT min(c_mktsegment) AS s FROM customer)
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_mktsegment = (SELECT s FROM s0)
                   AND c_custkey % 19 = 0
                  THEN 5000 ELSE 0 END AS bal_c,
           CASE WHEN c_mktsegment = (SELECT s FROM s0)
                 AND c_custkey % 19 = 0
                THEN '00000000000002' ELSE '00000000000001'
           END AS _commit_instant
    FROM customer
    UNION ALL
    SELECT c_custkey + 2000000 AS c_custkey, CAST(123 AS BIGINT) AS bal_c,
           '00000000000003' AS _commit_instant
    FROM customer WHERE c_custkey % 41 = 0
    """,
)
def q_st18(spark, sf):
    """ST18 — a FOREIGN Hudi MERGE_ON_READ table as a STREAMING SOURCE
    (sources/hudi_stream.py `_mor_partitions` / `_read_mor_group`):
    offsets count completed deltacommits, a micro-batch opens one input
    partition per TOUCHED file group, and the reader folds base rows +
    committed log upserts per record key GROUP-LOCALLY (no shuffle),
    emitting each key's net row stamped with its own commit instant.
    Over the s27-shaped fixture (qdefs_core._mor_customer_fixture:
    per-segment base groups at deltacommit 1, a ``% 19`` upsert block
    at 2, a log-side INSERT block at 3, an INFLIGHT block at 4) drained
    from instant 0 with availableNow: every customer surfaces once at
    its final value — upserted keys at +5000/t2, log inserts at
    123 cents/t3, everything else at its base value/t1, the pending
    block invisible. DuckDB recomputes the full row set; a leaked
    superseded base row, a dropped log insert, or a wrong instant
    stamp breaks the row-level hash."""
    from .qdefs_core import _mor_customer_fixture
    from .sources.hudi_stream import register_hudi_stream

    register_hudi_stream(spark)
    root = _mor_customer_fixture(spark, sf, "st18")
    tmp = tempfile.mkdtemp(prefix="st18_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(
                tuple(r)
                for r in df.select(
                    "c_custkey", "bal_c", "_commit_instant"
                ).collect()
            )

        q = (
            spark.readStream.format("hudi_stream")
            .option("path", root)
            .option("startingInstant", "0")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got, "c_custkey long, bal_c long, _commit_instant string"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st19_stream_delta_idmap",
    oracle="""
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
           CAST(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS _commit_version
    FROM customer
    """,
)
def q_st19(spark, sf):
    """ST19 — delta_stream over a column-mapping ID-mode table
    (sources/delta_stream.py per-file ``PARQUET:field_id`` resolution):
    the post-rename shape name-based resolution cannot handle. Commit 0
    adds a file holding the ``% 3 != 0`` customers under physical
    names ``col-aa``/``col-bb``; commit 1 adds the ``% 3 = 0``
    customers under DIFFERENT physical names ``col-cc``/``col-dd`` —
    the same field ids after a logical rename. Draining from version 0
    must align both files to the logical schema by field id and stamp
    each row's commit version; resolving by name (or emitting nulls
    for the 'missing' physical column) breaks the row-level hash
    DuckDB recomputes from base customer rows."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources.delta_stream import register_delta_stream

    register_delta_stream(spark)
    tmp = tempfile.mkdtemp(prefix="st19_")
    try:
        root = os.path.join(tmp, "tbl")
        os.makedirs(root, exist_ok=True)
        c = (
            read_table(spark, sf, "customer")
            .select(
                "c_custkey",
                F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
            )
            .collect()
        )

        def pfile(path, names, rows):
            sch = pa.schema(
                [
                    pa.field(
                        n, pa.int64(),
                        metadata={b"PARQUET:field_id": str(fid).encode()},
                    )
                    for n, fid in zip(names, (1, 2))
                ]
            )
            pq.write_table(
                pa.table(
                    {
                        names[0]: [r["c_custkey"] for r in rows],
                        names[1]: [r["bal_c"] for r in rows],
                    },
                    schema=sch,
                ),
                os.path.join(root, path),
            )

        pfile("f0.parquet", ["col-aa", "col-bb"],
              [r for r in c if r["c_custkey"] % 3 != 0])
        pfile("f1.parquet", ["col-cc", "col-dd"],
              [r for r in c if r["c_custkey"] % 3 == 0])
        fields = [
            {"name": "c_custkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-cc",
                          "delta.columnMapping.id": 1}},
            {"name": "bal_c", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-dd",
                          "delta.columnMapping.id": 2}},
        ]
        log = os.path.join(root, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
            for a in [
                {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
                {"metaData": {
                    "id": "st19",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": fields}
                    ),
                    "partitionColumns": [],
                    "configuration": {"delta.columnMapping.mode": "id"},
                }},
                {"add": {"path": "f0.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}},
            ]:
                f.write(_json.dumps(a) + "\n")
        with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
            f.write(_json.dumps(
                {"add": {"path": "f1.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}}
            ) + "\n")

        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("delta_stream")
            .option("path", root)
            .option("startingVersion", "0")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got, "c_custkey long, bal_c long, _commit_version long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st20_stream_hudi_cdc",
    oracle="""
    WITH base AS (
      SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    g2 AS (SELECT * FROM base WHERE c_custkey % 4 = 2)
    SELECT c_custkey, cents,
           'insert' AS _change_type,
           '00000000000001' AS _commit_instant
    FROM base
    UNION ALL
    SELECT c_custkey, cents, 'delete', '00000000000002'
    FROM g2 WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey, cents, 'update_preimage', '00000000000002'
    FROM g2 WHERE c_custkey % 5 IN (1, 2)
    UNION ALL
    SELECT c_custkey, cents + 777, 'update_postimage', '00000000000002'
    FROM g2 WHERE c_custkey % 5 IN (1, 2)
    UNION ALL
    SELECT c_custkey + 9000000, cents, 'insert', '00000000000002'
    FROM g2 WHERE c_custkey % 20 = 2
    """,
)
def q_st20(spark, sf):
    """ST20 — Hudi CDC as a STREAMING source (sources/hudi_stream.py
    with ``incrementalFormat=cdc``, Hudi's
    ``hoodie.datasource.query.incremental.format=cdc`` / RFC-51):
    micro-batches emit PER-COMMIT change images in the Delta-CDF row
    shape instead of net rows, inferred from file slices with the diff
    computed GROUP-LOCALLY on executors — one input partition per
    (commit, group whose slice spec changed), zero shuffle, untouched
    groups never shipped. Same fixture shape as s42 (4 COW file
    groups; commit 2 rewrites ONLY group 2 with deletes + updates +
    carried rows + inserts), drained from instant 0 with availableNow:
    the feed must contain commit 1's full insert images AND commit 2's
    delete (with before image) / update_preimage / update_postimage /
    insert rows — nothing for carried-forward rows or untouched
    groups. DuckDB recomputes the entire expected image feed; a leaked
    carried row, a missed delete, or swapped pre/post images breaks
    the hash."""
    from .qdefs_core import _table_root, build_cdc_hudi_fixture
    from .sources.hudi_stream import register_hudi_stream

    register_hudi_stream(spark)
    root = _table_root("st20", sf)
    build_cdc_hudi_fixture(spark, sf, root)
    tmp = tempfile.mkdtemp(prefix="st20_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("hudi_stream")
            .option("path", root)
            .option("startingInstant", "0")
            .option("incrementalFormat", "cdc")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got,
            "c_custkey long, cents long, _change_type string, "
            "_commit_instant string",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st21_stream_iceberg_changelog",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           'insert' AS _change_type,
           CAST(1 AS BIGINT) AS _snapshot_id
    FROM customer
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT),
           'delete', 2
    FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 10 = 1 THEN 555 ELSE 0 END,
           'insert', 2
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def q_st21(spark, sf):
    """ST21 — the Iceberg CHANGELOG as a STREAMING source
    (sources/iceberg_stream.py with ``changelog=true``): micro-batches
    emit row-level inserts AND deletes — overwrite snapshots become
    REPRESENTABLE (the append-tail mode raises on them), with each
    snapshot's file-set diff computed driver-side and one input
    partition per changed file; removed files ship their rows back as
    deletes, so a copy-on-write rewrite surfaces delete+insert pairs.
    Same fixture as s47 (snapshot 1 appends two files, snapshot 2
    overwrites the odd-key file), drained from snapshot count 0 with
    availableNow; DuckDB recomputes the entire expected feed — a
    missed delete, a leaked carried file, or a mis-stamped snapshot id
    breaks the hash."""
    from .qdefs_core import _table_root, build_changelog_iceberg_fixture
    from .sources.iceberg_stream import register_iceberg_stream

    register_iceberg_stream(spark)
    root = _table_root("st21", sf)
    build_changelog_iceberg_fixture(spark, sf, root)
    tmp = tempfile.mkdtemp(prefix="st21_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("iceberg_stream")
            .option("path", root)
            .option("startingSnapshotCount", 0)
            .option("changelog", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got,
            "c_custkey long, cents long, _change_type string, "
            "_snapshot_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st22_stream_nested_evolution",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS balance_cents,
           CAST(c_nationkey AS BIGINT) AS nation,
           CAST(NULL AS VARCHAR) AS tier,
           'STD' AS grade,
           CAST(1 AS BIGINT) AS _snapshot_id
    FROM customer
    UNION ALL
    SELECT c_custkey + 6000000,
           CAST(floor(c_acctbal * 100) AS BIGINT),
           CAST(c_nationkey AS BIGINT),
           'T1', 'NEW', 2
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def q_st22(spark, sf):
    """ST22 — a stream draining ACROSS a nested-evolution +
    default-adding commit (sources/iceberg.py ``vintage_projection`` /
    ``compile_vintage_conv``, the streaming twin of the batch
    ``_vintage_scan``): each input partition is one file = one schema
    VINTAGE, and the pre-evolution files project to the CURRENT schema
    inside the Python worker — the struct member renamed AND promoted
    by field id (``bal_c int -> balance_cents long``), the member
    added after the vintage NULL-filled, and the new TOP-LEVEL
    ``grade`` column filled with its v3 ``initial-default`` ('STD');
    post-evolution files pass through identity with their explicit
    values ('NEW'). The old name-map reader RAISED on both shapes — a
    table evolved mid-stream is a common real shape, and a name-based
    read would NULL the renamed inner member instead. Same fixture as
    s41 plus the defaulted column (shared builder); DuckDB recomputes
    both vintages from base customer rows, so a NULLed default, a
    mis-cast inner promotion, or a resurrected write-time member name
    breaks the row-level hash."""
    from .qdefs_core import (
        _table_root,
        build_nested_evolution_iceberg_fixture,
    )
    from .sources.iceberg_stream import register_iceberg_stream

    register_iceberg_stream(spark)
    root = _table_root("st22", sf)
    build_nested_evolution_iceberg_fixture(spark, sf, root, with_default=True)
    tmp = tempfile.mkdtemp(prefix="st22_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(
                tuple(r)
                for r in df.select(
                    "c_custkey",
                    F.col("profile.balance_cents").alias("balance_cents"),
                    F.col("profile.nation").alias("nation"),
                    F.col("profile.tier").alias("tier"),
                    "grade",
                    "_snapshot_id",
                ).collect()
            )

        q = (
            spark.readStream.format("iceberg_stream")
            .option("path", root)
            .option("startingSnapshotCount", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got,
            "c_custkey long, balance_cents long, nation long, "
            "tier string, grade string, _snapshot_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st23_stream_iceberg_row_lineage",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           CAST(100
                + CASE WHEN c_custkey % 2 = 0 THEN 0
                  ELSE (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
                  END
                + row_number() OVER (PARTITION BY c_custkey % 2
                                     ORDER BY c_custkey) - 1
                AS BIGINT) AS _row_id,
           CAST(1 AS BIGINT) AS _last_updated_sequence_number,
           CAST(1 AS BIGINT) AS _snapshot_id
    FROM customer
    """,
)
def q_st23(spark, sf):
    """ST23 — Iceberg v3 ROW LINEAGE through the STREAM
    (sources/iceberg_stream.py ``rowLineage=true``, the streaming twin
    of s45's batch read): every streamed row carries ``_row_id`` /
    ``_last_updated_sequence_number``, with the fresh id computed as
    the file's ``first_row_id`` + the row's position — and the
    ``first_row_id`` here must be ASSIGNED BY INHERITANCE (null on the
    manifest entries; manifest-list record ``first_row_id: 100`` plus
    preceding record counts), exercising the spec's assignment rule in
    the driver's partition planning, not just the batch reader. Same
    fixture as s45 (shared builder); DuckDB recomputes every row id
    from sort order and class counts, so an off-by-one in the
    accumulation, a swapped file order, or a position drift from the
    worker's row loop breaks the row-level hash."""
    from .qdefs_core import (
        _table_root,
        build_row_lineage_iceberg_fixture,
    )
    from .sources.iceberg_stream import register_iceberg_stream

    register_iceberg_stream(spark)
    root = _table_root("st23", sf)
    build_row_lineage_iceberg_fixture(spark, sf, root)
    tmp = tempfile.mkdtemp(prefix="st23_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("iceberg_stream")
            .option("path", root)
            .option("startingSnapshotCount", 0)
            .option("rowLineage", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got,
            "c_custkey long, cents long, _row_id long, "
            "_last_updated_sequence_number long, _snapshot_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st24_stream_delta_row_tracking",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           CAST(100
                + CASE WHEN c_custkey % 2 = 0 THEN 0
                  ELSE (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
                  END
                + row_number() OVER (PARTITION BY c_custkey % 2
                                     ORDER BY c_custkey) - 1
                AS BIGINT) AS _row_id,
           CAST(CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS _row_commit_version,
           CAST(CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS _commit_version
    FROM customer
    """,
)
def q_st24(spark, sf):
    """ST24 — Delta ROW TRACKING through the STREAM
    (sources/delta_stream.py ``rowTracking=true``, the streaming twin
    of s46's batch read): every streamed row carries ``_row_id`` =
    the add action's ``baseRowId`` + the row's position and
    ``_row_commit_version`` = ``defaultRowCommitVersion``, alongside
    the stream's own ``_commit_version`` stamp. Same foreign-writer
    fixture as s46 (shared builder: v0 declares the feature + adds the
    even-key file at baseRowId 100, v1 adds the odd-key file at the
    next range); DuckDB recomputes ids from sort order and class
    counts and both version stamps from the key class — a mis-ranged
    baseRowId, an off-by-one position, or a version drift breaks the
    row-level hash. (Materialized-column precedence on a rewrite is
    pinned by pytest.)"""
    from .qdefs_core import (
        _table_root,
        build_row_tracking_delta_fixture,
    )
    from .sources.delta_stream import register_delta_stream

    register_delta_stream(spark)
    root = _table_root("st24", sf)
    build_row_tracking_delta_fixture(spark, sf, root)
    tmp = tempfile.mkdtemp(prefix="st24_")
    try:
        got: list = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("delta_stream")
            .option("path", root)
            .option("startingVersion", 0)
            .option("rowTracking", "true")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.createDataFrame(
            got,
            "c_custkey long, cents long, _row_id long, "
            "_row_commit_version long, _commit_version long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st25_stream_across_maintenance",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, cents,
           CAST(k % 3 AS BIGINT) AS _commit_version
    FROM base
    UNION ALL
    SELECT k + 8000000, cents, CAST(3 AS BIGINT) FROM base WHERE k % 40 = 0
    UNION ALL
    SELECT k + 9000000, cents, CAST(5 AS BIGINT) FROM base WHERE k % 50 = 0
    """,
)
def q_st25(spark, sf):
    """ST25 — a Delta STREAM surviving table MAINTENANCE mid-drain
    (sources/delta_stream.py + delta_optimize.py ``optimize_delta`` /
    ``vacuum_delta``): the stream drains three appends, then an
    OPTIMIZE (remove+add with ``dataChange: false`` on both sides) and
    a retention-0 VACUUM land — physically deleting every pre-optimize
    file the stream has ALREADY consumed — then a further append lands
    and the stream drains to the end over the SAME checkpoint.
    Contract pinned: the re-layout emits ZERO rows (in-entry assert:
    no ``_commit_version`` at the OPTIMIZE version and no re-emission
    of consumed rows), and the stream never plans a vacuumed file —
    its offsets had passed the rewritten data, and later batches plan
    only the post-maintenance commits (the reason real vacuums respect
    a retention window covering active streams). DuckDB recomputes
    all three drained generations by key class; a phantom row from the
    re-layout, a lost append, or a dead-file read breaks the entry."""
    import glob as _glob
    import json as _json

    from .qdefs_core import _table_root
    from .sources.delta_optimize import optimize_delta, vacuum_delta
    from .sources.delta_stream import register_delta_stream
    from .sources.io import read_table as _rt

    register_delta_stream(spark)
    c = _rt(spark, sf, "customer").select(
        F.col("c_custkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    root = _table_root("st25", sf)
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)

    def _write_one(df, name):
        stage = os.path.join(root, f".stage-{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
        shutil.move(part, os.path.join(root, name))
        shutil.rmtree(stage)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "c_custkey", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "cents", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    }

    def _commit(v, actions):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    def _add(name):
        return {"add": {"path": name, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    k = F.col("c_custkey")
    _write_one(c.filter(k % 3 == 0), "slice0.parquet")
    _commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "st25", "format": {"provider": "parquet",
                                               "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        _add("slice0.parquet"),
    ])
    _write_one(c.filter(k % 3 == 1), "slice1.parquet")
    _commit(1, [_add("slice1.parquet")])
    _write_one(c.filter(k % 3 == 2), "slice2.parquet")
    _commit(2, [_add("slice2.parquet")])

    tmp = tempfile.mkdtemp(prefix="st25_")
    try:
        ck = os.path.join(tmp, "ck")

        def drain():
            got: list = []

            def sink(df, _bid):
                got.extend(tuple(r) for r in df.collect())

            q = (
                spark.readStream.format("delta_stream")
                .option("path", root)
                .option("startingVersion", 0)
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            return got

        got1 = drain()
        n = c.count()
        assert len(got1) == n
        assert {r[2] for r in got1} == {0, 1, 2}
        # a late append, drained before maintenance lands
        late = c.filter(k % 40 == 0).select(
            (k + 8_000_000).alias("c_custkey"), "cents"
        )
        _write_one(late, "late.parquet")
        _commit(3, [_add("late.parquet")])
        got2 = drain()
        assert len(got2) == late.count()
        assert {r[2] for r in got2} == {3}
        # maintenance mid-stream: OPTIMIZE re-layouts everything the
        # stream already consumed, VACUUM deletes the old bytes
        v_opt = optimize_delta(spark, root, target_file_rows=10**9)
        assert v_opt == 4
        gone = vacuum_delta(root, retention_hours=0.0)
        assert sorted(gone) == [
            "late.parquet", "slice0.parquet", "slice1.parquet",
            "slice2.parquet",
        ]
        # ...and the drain continues over the same checkpoint
        late2 = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"), "cents"
        )
        _write_one(late2, "late2.parquet")
        _commit(5, [_add("late2.parquet")])
        got3 = drain()
        # the re-layout emitted NOTHING (dataChange:false skip) and no
        # vacuumed file was planned: only the new append surfaces
        assert {r[2] for r in got3} == {5}, sorted({r[2] for r in got3})
        assert len(got3) == late2.count()
        return local_frame(
            spark, got1 + got2 + got3,
            "c_custkey long, cents long, _commit_version long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st26_stream_iceberg_maintenance",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, cents,
           CAST(k % 3 + 1 AS BIGINT) AS _snapshot_id
    FROM base
    UNION ALL
    SELECT k + 8000000, cents, CAST(4 AS BIGINT) FROM base WHERE k % 40 = 0
    """,
)
def q_st26(spark, sf):
    """ST26 — an Iceberg STREAM surviving table MAINTENANCE mid-drain
    (sources/iceberg_stream.py + iceberg_rewrite.py
    ``rewrite_iceberg_data_files`` / iceberg.py
    ``expire_iceberg_snapshots``): the Iceberg twin of st25. The
    stream drains three append snapshots, then a fourth append lands
    followed by a REPLACE snapshot (rewriteDataFiles compacting
    everything) and a snapshot EXPIRY removing the two oldest
    (already-consumed) snapshots — and the drain continues over the
    SAME checkpoint. Two behaviors pinned: (1) the offset RE-ANCHORS
    by its pinned snapshot id, so expiry's position shift doesn't kill
    the stream (it raises only when the pinned snapshot itself is
    gone); (2) REPLACE snapshots contribute ZERO partitions — the
    official IncrementalAppendScan skips re-layouts (Delta's
    dataChange:false twin), so compaction never re-emits consumed
    rows. DuckDB recomputes both drained generations with their
    snapshot stamps; a phantom from the replace, a lost append, or a
    mis-anchored offset breaks the row-level hash."""
    import json as _json

    from .qdefs_core import _table_root
    from .sources.iceberg import expire_iceberg_snapshots, export_iceberg
    from .sources.iceberg_rewrite import rewrite_iceberg_data_files
    from .sources.iceberg_stream import register_iceberg_stream
    from .sources.table import SnapshotTable

    register_iceberg_stream(spark)
    c = read_table(spark, sf, "customer").select(
        F.col("c_custkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    root = _table_root("st26", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=2,
    )
    k = F.col("c_custkey")
    for m in (0, 1, 2):
        t.append(c.filter(k % 3 == m))
        assert export_iceberg(t) == m + 1
    tmp = tempfile.mkdtemp(prefix="st26_")
    try:
        ck = os.path.join(tmp, "ck")

        def drain():
            got: list = []

            def sink(df, _bid):
                got.extend(tuple(r) for r in df.collect())

            q = (
                spark.readStream.format("iceberg_stream")
                .option("path", root)
                .option("startingSnapshotCount", 0)
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            return got

        got1 = drain()
        n = c.count()
        assert len(got1) == n
        assert {r[2] for r in got1} == {1, 2, 3}
        # a fourth append, then maintenance: compaction (REPLACE) and
        # expiry of the two oldest (consumed) snapshots
        late = c.filter(k % 40 == 0).select(
            (k + 8_000_000).alias("c_custkey"), "cents"
        )
        t.append(late)
        assert export_iceberg(t) == 4
        sid_r = rewrite_iceberg_data_files(spark, root, target_file_rows=10**9)
        assert sid_r == 5
        gone = expire_iceberg_snapshots(root, keep_last=3)
        assert gone == [1, 2]
        mdir = os.path.join(root, "metadata")
        with open(os.path.join(mdir, "version-hint.text")) as f:
            hint = f.read().strip()
        with open(os.path.join(mdir, f"v{hint}.metadata.json")) as f:
            snaps = _json.load(f)["snapshots"]
        assert [s["snapshot-id"] for s in snaps] == [3, 4, 5]
        # the drain continues: offset re-anchors on snapshot 3, the
        # append streams, the replace contributes NOTHING
        got2 = drain()
        assert {r[2] for r in got2} == {4}, sorted({r[2] for r in got2})
        assert len(got2) == late.count()
        return local_frame(
            spark, got1 + got2,
            "c_custkey long, cents long, _snapshot_id long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st27_stream_into_constrained",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, cents, k % 7 AS cust_bucket FROM base
    UNION ALL
    SELECT k + 9000000, cents, (k + 9000000) % 7
    FROM base WHERE k % 50 = 0
    UNION ALL
    SELECT k + 8000000, cents, (k + 8000000) % 7
    FROM base WHERE k % 40 = 0
    """,
)
def q_st27(spark, sf):
    """ST27 — a STREAM draining into a CHECK-CONSTRAINED Delta table
    (sources/delta_constraints.py ``append_delta`` as the foreachBatch
    sink, ``txn``-deduped): proves the round's write rules hold under
    streaming. The sink table declares a CHECK constraint
    (``cents_floor``), a NOT NULL key, and a GENERATED column the sink
    COMPUTES per micro-batch. A file-source availableNow drain lands
    the clean slices; then a POISONED batch (negative cents) arrives —
    the sink RAISES naming the constraint, the streaming query fails,
    and the COMMITTED PREFIX stays exact (asserted: count unchanged,
    no staging debris, no partial files). The upstream fix REWRITES the
    poisoned file in place and the SAME checkpoint resumes: the failed
    micro-batch replays with the corrected bytes (file-source offsets
    pin paths, not content) and every batch commits EXACTLY ONCE — the
    sink records the spec's setTransaction (txn) action per micro-batch
    id, so a replayed batch skips instead of double-appending (pinned
    by pytest). DuckDB recomputes the final table (base + corrected +
    late rows); a leaked poison row, a dropped batch, or a double
    commit breaks the hash."""
    import glob as _glob
    import json as _json

    from .qdefs_core import _table_root
    from .sources.delta import DeltaProtocolError, read_delta
    from .sources.delta_constraints import append_delta
    from .sources.io import read_table as _rt

    c = _rt(spark, sf, "customer").select(
        F.col("c_custkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    n = c.count()
    root = _table_root("st27", sf)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    fields = [
        {"name": "c_custkey", "type": "long", "nullable": False,
         "metadata": {}},
        {"name": "cents", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "cust_bucket", "type": "long", "nullable": True,
         "metadata": {"delta.generationExpression": "c_custkey % 7"}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["checkConstraints", "generatedColumns",
                               "invariants"]}}) + "\n")
        f.write(_json.dumps({"metaData": {
            "id": "st27", "format": {"provider": "parquet",
                                     "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.constraints.cents_floor": "cents >= -100000"},
        }}) + "\n")

    tmp = tempfile.mkdtemp(prefix="st27_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        ck = os.path.join(tmp, "ck")

        def _stage(df, name):
            stage = os.path.join(tmp, f".stage-{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.move(part, os.path.join(src, name))
            shutil.rmtree(stage)

        def sink(df, bid):
            append_delta(spark, root, df, operation="STREAMING UPDATE",
                         txn=("st27", int(bid)))

        def drain():
            q = (
                spark.readStream.schema("c_custkey long, cents long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        for i in range(3):
            _stage(c.filter(k % 3 == i), f"slice{i}.parquet")
        drain()
        assert read_delta(spark, root).count() == n
        # generated column was COMPUTED by the sink
        assert read_delta(spark, root).filter(
            F.col("cust_bucket") != k % 7
        ).count() == 0

        # a POISONED batch: the sink raises naming the constraint, the
        # committed prefix stays exact
        poison = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"),
            F.lit(-9_999_999).cast("long").alias("cents"),
        )
        _stage(poison, "batch3.parquet")
        try:
            drain()
            raise AssertionError("poisoned drain must fail")
        except Exception as e:  # StreamingQueryException wraps the gate
            assert "cents_floor" in str(e)
        assert read_delta(spark, root).count() == n  # prefix exact
        assert not [x for x in os.listdir(root) if x.startswith(".stage")]

        # upstream FIX: rewrite the poisoned file in place (same path —
        # the file-source offset pins the path); a further late batch
        # queues behind it; the same checkpoint resumes exactly once
        fixed = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"), "cents"
        )
        _stage(fixed, "batch3.parquet")
        late = c.filter(k % 40 == 0).select(
            (k + 8_000_000).alias("c_custkey"), "cents"
        )
        _stage(late, "batch4.parquet")
        drain()
        got = read_delta(spark, root)
        assert got.count() == n + fixed.count() + late.count()
        return got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st28_stream_identity_sink",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    c0 AS (SELECT k, cents, row_number() OVER (ORDER BY k) AS rn
           FROM base WHERE k % 3 = 0),
    c1 AS (SELECT k, cents, row_number() OVER (ORDER BY k) AS rn
           FROM base WHERE k % 3 = 1),
    c2 AS (SELECT k, cents, row_number() OVER (ORDER BY k) AS rn
           FROM base WHERE k % 3 = 2),
    n0 AS (SELECT count(*) AS c FROM base WHERE k % 3 = 0),
    n1 AS (SELECT count(*) AS c FROM base WHERE k % 3 = 1),
    n2 AS (SELECT count(*) AS c FROM base WHERE k % 3 = 2),
    fx AS (SELECT k + 9000000 AS k, cents,
                  row_number() OVER (ORDER BY k) AS rn
           FROM base WHERE k % 50 = 0)
    SELECT CAST(rn AS BIGINT) AS id, k AS c_custkey, cents FROM c0
    UNION ALL
    SELECT CAST(n0.c + rn AS BIGINT), k, cents FROM c1 CROSS JOIN n0
    UNION ALL
    SELECT CAST(n0.c + n1.c + rn AS BIGINT), k, cents
    FROM c2 CROSS JOIN n0 CROSS JOIN n1
    UNION ALL
    SELECT CAST(n0.c + n1.c + n2.c + rn AS BIGINT), k, cents
    FROM fx CROSS JOIN n0 CROSS JOIN n1 CROSS JOIN n2
    """,
)
def q_st28(spark, sf):
    """ST28 — a STREAM draining into an IDENTITY-keyed Delta table
    (sources/delta_constraints.py: identityColumns + setTransaction
    composed under streaming): every micro-batch gets surrogate ids
    assigned beyond the persisted watermark, and EXACTLY-ONCE
    semantics protect the SEQUENCE itself — a replayed batch (zombie
    sink retry, simulated in-entry by re-invoking the sink with an
    already-committed batch id) skips via its txn action, so ids
    neither duplicate nor gap (asserted: watermark and count unchanged
    after the replay). A POISONED batch (NULL key) fails the query
    naming the NOT NULL constraint with the committed prefix exact;
    the upstream fix rewrites the file in place and the same
    checkpoint resumes, ids continuing precisely where the last
    committed batch stopped. DuckDB recomputes every assigned id from
    the per-batch ordering; a duplicated replay, a gapped sequence, or
    a leaked poison row breaks the hash."""
    import glob as _glob
    import json as _json

    from .qdefs_core import _table_root
    from .sources.delta import read_delta
    from .sources.delta_constraints import append_delta
    from .sources.io import read_table as _rt

    c = _rt(spark, sf, "customer").select(
        F.col("c_custkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    n = c.count()
    root = _table_root("st28", sf)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.identity.start": 1,
                      "delta.identity.step": 1,
                      "delta.identity.allowExplicitInsert": False}},
        {"name": "c_custkey", "type": "long", "nullable": False,
         "metadata": {}},
        {"name": "cents", "type": "long", "nullable": True,
         "metadata": {}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["identityColumns", "invariants"]}}) + "\n")
        f.write(_json.dumps({"metaData": {
            "id": "st28", "format": {"provider": "parquet",
                                     "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [], "configuration": {},
        }}) + "\n")

    tmp = tempfile.mkdtemp(prefix="st28_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        ck = os.path.join(tmp, "ck")
        seen_bids: list[int] = []

        def _stage(df, name):
            stage = os.path.join(tmp, f".stage-{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.move(part, os.path.join(src, name))
            shutil.rmtree(stage)

        def sink(df, bid):
            seen_bids.append(int(bid))
            append_delta(spark, root, df, operation="STREAMING UPDATE",
                         txn=("st28", int(bid)),
                         identity_order=["c_custkey"])

        def drain():
            q = (
                spark.readStream.schema("c_custkey long, cents long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        # three sequenced drains pin the batch order (ids encode it)
        for i in range(3):
            _stage(c.filter(k % 3 == i), f"slice{i}.parquet")
            drain()
        assert read_delta(spark, root).count() == n
        ids = read_delta(spark, root)
        assert ids.agg(F.max("id")).collect()[0][0] == n  # gapless

        # ZOMBIE REPLAY of an already-committed batch: the txn action
        # skips it — count AND watermark untouched (no id burn)
        last_bid = seen_bids[-1]
        sink(c.filter(k % 3 == 2), last_bid)
        assert read_delta(spark, root).count() == n
        assert read_delta(spark, root).agg(
            F.max("id")
        ).collect()[0][0] == n

        # POISON: a NULL key fails the drain naming NOT NULL; the
        # committed prefix (and the id sequence) stays exact
        poison = c.filter(k % 50 == 0).select(
            F.lit(None).cast("long").alias("c_custkey"), "cents",
        )
        _stage(poison, "batch3.parquet")
        try:
            drain()
            raise AssertionError("poisoned drain must fail")
        except Exception as e:
            assert "NOT NULL" in str(e)
        assert read_delta(spark, root).count() == n
        # fix in place; the same checkpoint resumes, ids continue
        fixed = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"), "cents",
        )
        _stage(fixed, "batch3.parquet")
        drain()
        got = read_delta(spark, root)
        assert got.count() == n + fixed.count()
        assert got.agg(F.max("id")).collect()[0][0] == n + fixed.count()
        return got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st29_stream_iceberg_wap",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, cents FROM base
    UNION ALL
    SELECT k + 9000000, cents FROM base WHERE k % 50 = 0
    """,
)
def q_st29(spark, sf):
    """ST29 — streaming WRITE-AUDIT-PUBLISH into Iceberg
    (sources/iceberg.py WAP machinery under a stream; the st27 shape
    transposed from Delta constraints to the Iceberg audit branch).
    A file-source stream drains micro-batches through a foreachBatch
    sink that appends to the staging SnapshotTable and STAGES each
    batch on an Iceberg AUDIT BRANCH (``export_iceberg(branch=)`` —
    consecutive staged commits chain on the branch head; main's
    ``current-snapshot-id`` never moves). The audit reads the branch
    ref; a PASSING audit fast-forwards main
    (``publish_iceberg_wap``), asserted exact. Then a POISONED batch
    drains onto a fresh audit branch: the audit gate finds the
    violating rows and REJECTS (``drop_iceberg_ref``) — main is
    asserted byte-identical to the published state, the staged poison
    merely unreferenced. The upstream fix deletes the poison from the
    staging table, appends corrected rows, re-stages on the SAME
    branch name (reusable after the drop), the audit passes, and the
    second publish fast-forwards. DuckDB recomputes the final main
    (base + corrected rows); a leaked poison row, a lost staged
    batch, or a publish that rewrote instead of fast-forwarding
    breaks the hash.

    Scale: staging is the incremental export (O(changed files)
    metadata per micro-batch); the audit is one filtered count over
    the branch read; publish is a driver-side metadata CAS."""
    import glob as _glob

    from .qdefs_core import _table_root
    from .sources.iceberg import (
        drop_iceberg_ref,
        export_iceberg,
        publish_iceberg_wap,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    n = c.count()
    root = _table_root("st29", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c.filter(k % 3 == 0))
    export_iceberg(t)  # published main = the k%3==0 base
    n_base = c.filter(k % 3 == 0).count()

    tmp = tempfile.mkdtemp(prefix="st29_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        ck = os.path.join(tmp, "ck")
        phase = {"branch": "audit"}

        def _stage(df, name):
            stage = os.path.join(tmp, f".stage-{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.move(part, os.path.join(src, name))
            shutil.rmtree(stage)

        def sink(df, _bid):
            # stage each micro-batch on the AUDIT branch: the staging
            # table advances, main's current snapshot never moves
            t.append(df)
            export_iceberg(t, branch=phase["branch"])

        def drain():
            q = (
                spark.readStream
                .schema("c_custkey long, cents long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        # phase 1: two clean micro-batches chain on the audit branch
        _stage(c.filter(k % 3 == 1), "slice1.parquet")
        drain()
        _stage(c.filter(k % 3 == 2), "slice2.parquet")
        drain()
        # main untouched; the branch serves everything staged
        assert read_iceberg(spark, root).count() == n_base
        audit = read_iceberg(spark, root, ref="audit")
        assert audit.count() == n
        # audit gate passes -> fast-forward publish
        assert audit.filter(F.col("cents") < -100000).count() == 0
        out = publish_iceberg_wap(root, "audit")
        assert out["mode"] == "fast-forward"
        assert read_iceberg(spark, root).count() == n

        # phase 2: a POISONED batch stages on a fresh branch; the
        # audit REJECTS and main stays exactly the published state
        phase["branch"] = "audit2"
        poison = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"),
            F.lit(-9_999_999).cast("long").alias("cents"),
        )
        _stage(poison, "batch3.parquet")
        drain()
        staged = read_iceberg(spark, root, ref="audit2")
        n_bad = staged.filter(F.col("cents") < -100000).count()
        assert n_bad == poison.count()  # the gate caught every row
        drop_iceberg_ref(root, "audit2")
        main = read_iceberg(spark, root)
        assert main.count() == n
        assert main.filter(k >= 9_000_000).count() == 0

        # phase 3: upstream fix — poison deleted from the staging
        # table, corrected rows appended, SAME branch name re-staged
        t.delete(F.col("cents") < -100000)
        fixed = c.filter(k % 50 == 0).select(
            (k + 9_000_000).alias("c_custkey"), "cents"
        )
        _stage(fixed, "batch4.parquet")
        drain()
        audit2 = read_iceberg(spark, root, ref="audit2")
        assert audit2.filter(F.col("cents") < -100000).count() == 0
        assert audit2.count() == n + fixed.count()
        out2 = publish_iceberg_wap(root, "audit2")
        assert out2["mode"] in ("fast-forward", "cherry-pick")
        got = read_iceberg(spark, root)
        assert got.count() == n + fixed.count()
        assert got.filter(F.col("cents") < -100000).count() == 0
        return got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "st30_stream_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    s1 AS (
      SELECT k, cents + CASE WHEN k % 6 = 0 THEN 100 ELSE 0 END
               AS cents
      FROM base
      UNION ALL
      SELECT k + 5000000 AS k, CAST(-1 AS BIGINT) AS cents
      FROM base WHERE k % 70 = 0
    ),
    s2 AS (
      SELECT k, cents FROM s1
      WHERE NOT (k < 5000000 AND k % 15 = 0)
        AND NOT (k >= 5000000 AND (k - 5000000) % 140 = 0)
    ),
    s3 AS (
      SELECT k, CASE WHEN k < 5000000 AND k % 9 = 0 AND k % 15 <> 0
                     THEN CAST(-5 AS BIGINT) ELSE cents END AS cents
      FROM s2
      UNION ALL
      SELECT k, CAST(7 AS BIGINT) AS cents
      FROM base WHERE k % 45 = 0
    )
    SELECT k AS c_custkey, cents FROM s3
    """,
)
def q_st30(spark, sf):
    """ST30 — a CDC STREAM applied to a Delta target by MERGE
    (sources/delta_dml.py ``merge_delta`` / row-delta DVs as the
    foreachBatch sink): the canonical "apply the change feed to a
    replica" pipeline. Each micro-batch carries op-tagged change rows
    (I/U/D); the sink splits by op and applies deletes via
    ``merge_delta(when_matched='delete', insert=False)`` and upserts
    via ``merge_delta(when_matched='update')`` — every batch lands as
    row-delta commits (DVs on touched files + delta-sized new files),
    never a table rewrite. Batch order is driven by SEQUENTIAL drains
    (one staged file per drain — the repo's rule, since file-source
    order across files isn't pinned). Three CDC waves fold: a
    keyed raise + fresh inserts, then deletes striking BOTH original
    and first-wave-inserted keys, then updates of survivors plus
    re-inserts of deleted keys (a matched-again key proves a DV'd row
    can re-enter as a fresh insert). DuckDB recomputes the three-step
    fold; a dropped change, a resurrected deleted row, or a re-applied
    batch breaks the hash. In-entry asserts pin per-wave counts and
    that an idle re-drain of the SAME checkpoint applies nothing (no
    new version). Exactly-once here is the CDC-apply form: replayed
    upsert/delete batches are IDEMPOTENT by construction (same keys,
    same values), unlike the append sink's txn dedup (st27).

    Scale: the sink's work per batch is one batch-sized broadcast-able
    join against the target scan plus O(touched files) DV sidecars —
    the target is never rewritten; the fold's cost tracks the CHANGE
    volume, not the table."""
    import glob as _glob

    from .qdefs_core import _mk_bucketed_delta, _table_root
    from .sources.delta import read_delta
    from .sources.delta_dml import merge_delta
    from .sources.io import read_table as _rt

    c = _rt(spark, sf, "customer").select(
        F.col("c_custkey"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    n = c.count()
    root = _table_root("st30", sf)
    tmp = tempfile.mkdtemp(prefix="st30_")
    try:
        _mk_bucketed_delta(spark, c, root, "st30")

        src = os.path.join(tmp, "src")
        os.makedirs(src)
        ck = os.path.join(tmp, "ck")

        def _stage(df, name):
            stage = os.path.join(tmp, f".stage-{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.move(part, os.path.join(src, name))
            shutil.rmtree(stage)

        def sink(df, _bid):
            dels = df.filter(F.col("op") == "D").drop("op")
            ups = df.filter(F.col("op").isin("I", "U")).drop("op")
            if dels.take(1):
                merge_delta(spark, root, dels, on=["c_custkey"],
                            when_matched="delete", insert=False)
            if ups.take(1):
                merge_delta(spark, root, ups, on=["c_custkey"],
                            when_matched="update")

        def drain():
            q = (
                spark.readStream
                .schema("c_custkey long, cents long, op string")
                .parquet(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        # wave 1: keyed raise + fresh inserts
        w1 = c.filter(k % 6 == 0).select(
            "c_custkey", (F.col("cents") + 100).alias("cents"),
            F.lit("U").alias("op"),
        ).unionByName(c.filter(k % 70 == 0).select(
            (k + 5_000_000).alias("c_custkey"),
            F.lit(-1).cast("long").alias("cents"),
            F.lit("I").alias("op"),
        ))
        _stage(w1, "cdc1.parquet")
        drain()
        n_ins1 = c.filter(k % 70 == 0).count()
        assert read_delta(spark, root).count() == n + n_ins1

        # wave 2: deletes strike original AND wave-1-inserted keys
        w2 = c.filter(k % 15 == 0).select(
            "c_custkey", F.lit(None).cast("long").alias("cents"),
            F.lit("D").alias("op"),
        ).unionByName(c.filter(k % 140 == 0).select(
            (k + 5_000_000).alias("c_custkey"),
            F.lit(None).cast("long").alias("cents"),
            F.lit("D").alias("op"),
        ))
        _stage(w2, "cdc2.parquet")
        drain()
        n_del = c.filter(k % 15 == 0).count() + \
            c.filter(k % 140 == 0).count()
        assert read_delta(spark, root).count() == n + n_ins1 - n_del

        # wave 3: survivor updates + re-inserts of deleted keys
        w3 = c.filter((k % 9 == 0) & (k % 15 != 0)).select(
            "c_custkey", F.lit(-5).cast("long").alias("cents"),
            F.lit("U").alias("op"),
        ).unionByName(c.filter(k % 45 == 0).select(
            "c_custkey", F.lit(7).cast("long").alias("cents"),
            F.lit("I").alias("op"),
        ))
        _stage(w3, "cdc3.parquet")
        drain()
        got = read_delta(spark, root)
        n_reins = c.filter(k % 45 == 0).count()
        assert got.count() == n + n_ins1 - n_del + n_reins
        # a re-inserted (previously DV-deleted) key is ALIVE with the
        # new value
        assert got.filter((k % 45 == 0) & (F.col("cents") == 7)
                          ).count() == n_reins

        # an idle re-drain of the same checkpoint applies NOTHING
        from .sources.delta import _replay_log
        _m, _l, _d, v_before = _replay_log(root)
        drain()
        _m, _l, _d, v_after = _replay_log(root)
        assert v_after == v_before
        return got.select("c_custkey", "cents")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
