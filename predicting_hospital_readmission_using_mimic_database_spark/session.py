"""SparkSession construction and tuning defaults.

Scale posture: these defaults are written for a real cluster (AQE on,
skew-join handling on, partition sizes tuned for 128 MB splits); local[N]
testing just shrinks shuffle partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we are handed (the driver
# owns the session during verification; these are safe, documented knobs).
_RUNTIME_CONFS = {
    # the driver's events.parquet stores TIMESTAMP(NANOS); Spark's vectorized
    # reader rejects it unless read as long (we convert in sources.io)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp comparison with the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # route catalyst filters into python data sources' pushFilters()
    # (the snapshot source turns them into stats-based file skipping)
    "spark.sql.python.filterPushdown.enabled": "true",
    # id-mapped delta tables annotate their scan schemas with parquet
    # field ids; resolution is opt-in per session and only affects
    # schemas carrying the annotation — part of the baseline so SESSION
    # CLONES (loop_session / small_plan_*) read id-mapped files exactly
    # like the base session (the read path also sets it defensively)
    "spark.sql.parquet.fieldId.read.enabled": "true",
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent).

    Called by every operator entry point so the engine behaves the same
    whether it builds the session or is handed one. A session clone
    (:func:`_clone`) keeps its own overrides on top of the baseline, so
    re-tuning it (``sources.io.read_table`` does, per read) never turns
    AQE back on under an AQE-off clone.

    It registers no Python data source (a process's first registration
    forks a ~2 s Python lookup): their readers register them.
    """
    confs = {**_RUNTIME_CONFS, **getattr(spark, "_clone_confs", {})}
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf not settable at runtime in this deployment: keep going,
            # readers have per-read fallbacks
            pass
    return spark


def get_spark(
    app_name: str = "readmission-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    On a cluster, leave ``master`` unset and size ``shuffle_partitions``
    to ~2-3x total executor cores (or leave AQE to coalesce from a high
    initial number). Locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    return tune_session(spark)


# ----------------------------------------------------------------------
# loop-scoped session tuning for fixed-shape iterative operators
# ----------------------------------------------------------------------
from contextlib import contextmanager  # noqa: E402


def _clone(
    base: SparkSession, overrides: dict, shuffle_partitions: int | None
) -> SparkSession:
    """The one session-clone recipe behind :func:`loop_session` and
    :func:`small_plan_spark`: ``newSession()`` (shared SparkContext,
    block and cache managers; its own SQLConf), brought to the engine
    baseline, then the caller's time zone and broadcast bound,
    ``overrides`` and the shuffle-partition pin. The overrides are
    remembered on the clone, so a later :func:`tune_session` re-applies
    them over the baseline."""
    confs = {
        key: base.conf.get(key)
        for key in (
            "spark.sql.session.timeZone",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    confs.update(overrides)
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(max(1, int(shuffle_partitions)))
    sess = base.newSession()
    sess._clone_confs = confs
    return tune_session(sess)


@contextmanager
def loop_session(
    *frames,
    shuffle_partitions: int | None = None,
    skew_join: bool = False,
):
    """Clone the session for a FIXED-SHAPE iteration loop and hand
    ``frames`` across (the ml/bpe.py idiom, shared): ``newSession()``
    keeps the SparkContext, block manager, and cache manager — so
    cached/checkpointed inputs stay served — but owns its SQLConf, so
    the loop-scoped overrides below are invisible to the caller.

    The clone is first brought to the engine's baseline with
    :func:`tune_session` (``newSession()`` starts from builder-time
    confs only, so runtime confs like nanos-as-long parquet reading
    and python-source filter pushdown would otherwise be LOST — a loop
    frame whose first action scans a nanos-timestamp parquet under the
    clone would throw). The caller's current time zone is then
    re-applied, and on top of that the loop overrides:

    * ``skew_join=False`` (default): ``spark.sql.adaptive.enabled=
      false`` — each iteration is a fixed-shape micro-job (one
      partial-aggregated shuffle, joins co-partitioned); AQE's
      per-exchange stage materialization adds a driver job per shuffle
      with nothing left to re-plan. Measured ~2x per-iteration latency
      on the BPE trainer and the PageRank / connected-components
      loops. ONLY safe when the caller has established the loop's
      join keys are not skewed (AQE's runtime skew splitting is off
      with AQE off).
    * ``skew_join=True``: AQE stays ON for its runtime skew-join
      splitting (the caller probed the loop key and found a hot key —
      one straggler task per iteration otherwise), but partition
      COALESCING is disabled so the ``shuffle_partitions`` pin is
      still exact. The per-exchange driver latency returns; that is
      the deliberate price of the skew guard, paid only on skewed
      inputs.
    * ``spark.sql.shuffle.partitions`` pinned to ``shuffle_partitions``
      when given — derive it from the loop frame's OWN partitioning
      (input-sized, never a constant), so the loop's shuffles match
      the data instead of the session default.

    Yields ``(sess, clones)`` where ``clones[i]`` is ``frames[i]``
    seen from the cloned session (global-temp-view plan handoff, no
    data movement). Views are dropped on exit; hand results back with
    :func:`adopt_frame` before leaving the block.
    """
    import uuid

    base = frames[0].sparkSession
    if skew_join:
        overrides = {
            # keep AQE (skew-join splitting needs it) but pin partitions
            # exactly: coalescing would undo the input-derived pin
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            # split skewed partitions even when that adds an extra shuffle
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        }
    else:
        overrides = {"spark.sql.adaptive.enabled": "false"}
    sess = _clone(base, overrides, shuffle_partitions)
    tag = f"loop_{uuid.uuid4().hex}"
    names: list[str] = []
    try:
        clones = []
        for i, f in enumerate(frames):
            nm = f"{tag}_{i}"
            f.createOrReplaceGlobalTempView(nm)
            names.append(nm)
            clones.append(sess.table(f"global_temp.{nm}"))
        yield sess, clones
    finally:
        for nm in names:
            base.catalog.dropGlobalTempView(nm)


def warm_streaming(spark: SparkSession, timeout_s: int = 60) -> None:
    """Pay Structured Streaming's one-time per-session init (microbatch
    engine, checkpoint WAL, foreachBatch callback path — measured
    ~4.5 s) outside any timed region: a 1-row rate-source availableNow
    drain into a no-op sink. Shared by bench.py's warmup phase and
    tools/profile_entry.py so the first streaming entry measured never
    absorbs it. A drain that outlives ``timeout_s`` is stopped before
    its checkpoint dir is removed. It also registers the ``snapshot``
    sources, paying Spark's one-time Python lookup (~2 s) here."""
    import shutil
    import tempfile

    from .sources.pydatasource import register_datasources

    register_datasources(spark)
    ck = tempfile.mkdtemp(prefix="warm_stream_ck_")
    try:
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "1")
            .option("numPartitions", "1")
            .load()
            .writeStream.foreachBatch(lambda df, _bid: df.count())
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
    finally:
        shutil.rmtree(ck, ignore_errors=True)


# ----------------------------------------------------------------------
# byte-gated session for provably-small fixed-shape DML/publish plans
# ----------------------------------------------------------------------
#: plans whose estimated input+output bytes fit under this run WITHOUT
#: AQE (its per-exchange stage materialization is one driver job per
#: shuffle — pure latency when the whole plan is a few MB and its shape
#: is fixed) and with shuffle partitions pinned from the BYTE estimate
#: (guide §2.2's 100 MB-1 GB band), not the session default. Bigger
#: plans — the at-scale regime — keep the caller's session untouched:
#: runtime coalescing and skew splitting earn their latency there. The
#: gate is BYTES (scale-adaptive), never the core count.
_SMALL_PLAN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SMALL_PLAN_BYTES", str(256 * 1024 * 1024))
)
_PLAN_PARTITION_BYTES = 128 * 1024 * 1024


def _plan_pin(est_bytes: int) -> int:
    """Shuffle-partition pin for a plan of ``est_bytes``: one partition
    per 128 MB, floor 1 — derived from the input, never a constant."""
    return max(
        1, (int(est_bytes) + _PLAN_PARTITION_BYTES - 1) // _PLAN_PARTITION_BYTES
    )


@contextmanager
def small_plan_session(*frames, est_bytes: int | None):
    """Like :func:`loop_session`, but BYTE-GATED: when the caller's
    driver-side estimate proves the plan small (file sizes from a
    table's own log/listing plus row-count × schema width — both known
    without running a job), yield an AQE-off clone with an
    input-derived partition pin and ``frames`` re-bound to it; when the
    estimate is missing or exceeds ``$SPARK_GRAFT_SMALL_PLAN_BYTES``
    (default 256 MB), yield the frames' own session unchanged so big
    plans keep AQE's runtime re-planning. Yields ``(sess, clones)``
    either way."""
    if est_bytes is None or est_bytes > _SMALL_PLAN_BYTES:
        yield frames[0].sparkSession, list(frames)
        return
    with loop_session(
        *frames, shuffle_partitions=_plan_pin(est_bytes)
    ) as (sess, clones):
        yield sess, clones


def small_plan_spark(
    spark: SparkSession, est_bytes: int | None
) -> SparkSession:
    """Frame-less :func:`small_plan_session` for ops that build every
    frame internally from ``spark`` and only return driver-side data
    (collected summaries, written files): returns a tuned AQE-off
    pinned clone under the byte gate, else ``spark`` unchanged. The
    clone shares the SparkContext and cache manager, so persists made
    and dropped inside the op behave exactly as before; no cleanup is
    needed (the clone is garbage once the op returns)."""
    if est_bytes is None or est_bytes > _SMALL_PLAN_BYTES:
        return spark
    return _clone(
        spark, {"spark.sql.adaptive.enabled": "false"}, _plan_pin(est_bytes)
    )


# ----------------------------------------------------------------------
# driver-held rows as a JVM local relation
# ----------------------------------------------------------------------
def _arrow_value(dt):
    """Converter from a Python value of Spark type ``dt`` to the form
    pyarrow builds ``dt``'s Arrow type from, or None when the value
    already is that form. Structs become dicts (tuples and Rows are
    positional, as in ``createDataFrame``), and a naive ``datetime`` for
    a TIMESTAMP column is read as local time, as
    ``createDataFrame(list)`` reads it."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        subs = [(f.name, _arrow_value(f.dataType)) for f in dt.fields]

        def struct(v):
            if v is None:
                return None
            vals = [v.get(n) for n, _ in subs] if isinstance(v, dict) else v
            return {n: c(x) if c else x for (n, c), x in zip(subs, vals)}

        return struct
    if isinstance(dt, T.MapType):
        kc, vc = _arrow_value(dt.keyType), _arrow_value(dt.valueType)
        if kc is None and vc is None:
            return None
        return lambda v: None if v is None else [
            (kc(k) if kc else k, vc(x) if vc else x) for k, x in v.items()
        ]
    if isinstance(dt, T.ArrayType):
        ec = _arrow_value(dt.elementType)
        return None if ec is None else (
            lambda v: None if v is None else [ec(x) for x in v]
        )
    if isinstance(dt, T.TimestampType):
        return lambda v: v if v is None or v.tzinfo else v.astimezone()
    return None


def _arrow_table(rows, schema):
    """``rows`` (tuples or Rows, positional, or dicts, by name) as a
    pyarrow Table of ``schema``'s Arrow form."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    names = schema.names
    cols = [[] for _ in names]
    for r in rows:
        vals = [r.get(n) for n in names] if isinstance(r, dict) else r
        for col, v in zip(cols, vals):
            col.append(v)
    arrays = []
    for f, af, col in zip(schema.fields, arrow, cols):
        conv = _arrow_value(f.dataType)
        arrays.append(
            pa.array([conv(v) for v in col] if conv else col, type=af.type)
        )
    return pa.Table.from_arrays(arrays, schema=arrow)


def local_frame(spark: SparkSession, rows, schema):
    """The one way the engine turns driver-held rows (strategy
    summaries, split quotas, file lists, metadata tables) into a frame:
    through an Arrow table, so the plan is a JVM ``LocalRelation``.
    ``spark.createDataFrame(<list>)`` instead pickles the rows into a
    Python RDD, and every action over it runs a Python-worker task per
    slice. ``schema`` is a ``StructType`` or a DDL string; ``rows`` are
    tuples or Rows (positional) or dicts (by name), or a pyarrow Table
    already in ``schema``'s Arrow form; ``[]`` gives an empty frame
    with exactly ``schema``."""
    import pyarrow as pa
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    table = rows if isinstance(rows, pa.Table) else _arrow_table(rows, schema)
    return spark.createDataFrame(table, schema)


# ----------------------------------------------------------------------
# pandas kernels: executor tasks at scale, the driver below the bound
# ----------------------------------------------------------------------
#: the worker settings a pandas kernel's conversions read, with the
#: defaults a worker assumes when the session leaves them unset
_KERNEL_CONFS = {
    "spark.sql.session.timeZone": None,
    "spark.sql.execution.pandas.convertToArrowArraySafely": "false",
    "spark.sql.legacy.execution.pandas.groupedMap.assignColumnsByName": "true",
    "spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled": "false",
    "spark.sql.execution.arrow.useLargeVarTypes": "false",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}


def kernel_on_driver(spark: SparkSession, est_bytes: int | None) -> bool:
    """Whether :func:`pandas_kernel` runs a kernel of ``est_bytes`` on
    the driver: at or below the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (-1: never)."""
    bound = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return est_bytes is not None and 0 <= est_bytes <= bound


def pandas_kernel(df, fn, schema, *, group_by=None, est_bytes, spec=None):
    """The one way the engine runs a pandas kernel over a frame:
    ``df.mapInPandas(fn, schema)``, or with ``group_by``
    ``df.groupBy(*group_by).applyInPandas(fn, schema)``.

    At scale (``est_bytes`` None, or above the session's
    ``spark.sql.autoBroadcastJoinThreshold``, where -1 means never)
    that is exactly what it returns: the kernel runs in Python workers
    on the executors. Below that bound -- Spark's own limit on a
    relation it collects whole to the driver -- the same ``fn`` runs on
    the driver, so a small plan forks no Python daemon or worker. Its
    input is ``spec`` (the rows ``df`` was built from, when the caller
    holds them) or one ``toArrow()`` collect of ``df``; it sees the
    batches (at most ``maxRecordsPerBatch`` rows) or the per-key groups
    an executor task would give it, converted to and from pandas by the
    worker's own serializer, and the result is a ``LocalRelation``
    (:func:`local_frame`). ``est_bytes`` is the caller's bound on the
    kernel's input plus output bytes, from metadata it already holds,
    never from a job."""
    if not kernel_on_driver(df.sparkSession, est_bytes):
        if group_by is None:
            return df.mapInPandas(fn, schema)
        return df.groupBy(*group_by).applyInPandas(fn, schema)
    return _driver_kernel(df, fn, schema, group_by, spec)


def _driver_kernel(df, fn, schema, group_by, spec):
    """:func:`pandas_kernel` below the bound: ``fn`` on the driver,
    through the worker's own wrappers (result checks) and serializer
    (Arrow <-> pandas both ways, NULL-bearing integer columns that come
    back as float NaN included)."""
    import inspect

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyspark import worker as W
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    spark = df.sparkSession
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    conf = {k: spark.conf.get(k, d) for k, d in _KERNEL_CONFS.items()}
    ser = ArrowStreamPandasUDFSerializer(
        conf["spark.sql.session.timeZone"],
        conf["spark.sql.execution.pandas.convertToArrowArraySafely"] == "true",
        W.assign_cols_by_name(conf),
        arrow_cast=True,
        int_to_decimal_coercion_enabled=conf[
            "spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled"
        ] == "true",
    )
    table = _arrow_table(spec, df.schema) if spec is not None else df.toArrow()

    def series(t):
        return [ser.arrow_to_pandas(c, i) for i, c in enumerate(t.itercolumns())]

    if group_by is None:
        n = int(conf["spark.sql.execution.arrow.maxRecordsPerBatch"])
        batches = table.to_batches(max_chunksize=n) if n > 0 else table.to_batches()
        pdfs = (
            pd.concat(series(pa.Table.from_batches([b])), axis=1)
            for b in batches if b.num_rows
        )
        results = W.wrap_pandas_batch_iter_udf(fn, schema, conf)(pdfs)
    else:
        udf = W.wrap_grouped_map_pandas_udf(
            fn, schema, inspect.getfullargspec(fn), conf
        )
        gid = (
            table.select(list(group_by)).to_pandas()
            .groupby(list(group_by), dropna=False, sort=False).ngroup()
            .to_numpy()
        )
        order = np.argsort(gid, kind="stable")
        cuts = np.flatnonzero(np.diff(gid[order])) + 1
        pos = [table.schema.get_field_index(c) for c in group_by]
        results = []
        for idx in np.split(order, cuts) if len(order) else []:
            vals = series(table.take(idx))
            results += udf([vals[p] for p in pos], vals)
    out = [ser._create_batch(r).column(0) for r in results]
    arrow = to_arrow_schema(schema)
    return local_frame(
        spark,
        pa.Table.from_batches(
            [pa.RecordBatch.from_struct_array(a).cast(arrow) for a in out],
            schema=arrow,
        ),
        schema,
    )


def adopt_frame(base: SparkSession, df):
    """Hand a loop result back to the CALLER's session: publish the
    clone-side frame through a throwaway global temp view and eagerly
    ``localCheckpoint`` base-side, so the returned frame references
    neither the view (dropped here) nor the cloned session."""
    import uuid

    nm = f"loop_out_{uuid.uuid4().hex}"
    df.createOrReplaceGlobalTempView(nm)
    try:
        return base.table(f"global_temp.{nm}").localCheckpoint(eager=True)
    finally:
        base.catalog.dropGlobalTempView(nm)
