"""SnapshotTable through the PySpark 4 Python Data Source API
(sources/pydatasource.py): batch `format("snapshot")` snapshots/time
travel and the `format("snapshot_changes")` CDC feed, batch + streaming."""

import pytest
from pyspark.sql import functions as F

from predicting_hospital_readmission_using_mimic_database_spark.sources.pydatasource import (
    register_datasources,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.table import SnapshotTable

SCHEMA = "k bigint, v double, tag string"


def _rows(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("v"),
        F.lit(tag).alias("tag"),
    )


@pytest.fixture
def table(spark, tmp_path):
    register_datasources(spark)
    t = SnapshotTable.create(
        spark, str(tmp_path / "tbl"), SCHEMA, bucket_key=["k"], num_buckets=4
    )
    t.append(_rows(spark, 0, 50))
    upd = spark.createDataFrame(
        [(7, -7.0, "upd"), (500, 1.0, "new")], SCHEMA
    )
    t.merge(upd)
    return t


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_batch_snapshot_format(spark, table):
    got = spark.read.format("snapshot").option("path", table.root).load()
    assert got.columns == ["k", "v", "tag"]
    assert _rowset(got) == _rowset(table.read())
    # time travel through the option
    v1 = (
        spark.read.format("snapshot")
        .option("path", table.root)
        .option("version", 1)
        .load()
    )
    assert _rowset(v1) == _rowset(table.read(version=1))
    # predicates/projections still work on top (Python source -> Spark ops)
    assert (
        spark.read.format("snapshot").option("path", table.root).load()
        .filter("tag = 'upd'").count()
        == 1
    )


def test_changes_batch_format_matches_read_changes(spark, table):
    got = (
        spark.read.format("snapshot_changes")
        .option("path", table.root)
        .option("startingVersion", 0)
        .load()
    )
    assert got.columns == ["k", "v", "tag", "_change_type", "_commit_version"]
    assert _rowset(got) == _rowset(table.read_changes(0))
    # the merge commit carries the update pre/post images + the insert,
    # and NOT the rewritten-but-unchanged rows of the touched buckets
    mc = got.filter("_commit_version = 2")
    assert _rowset(mc) == sorted(
        [
            (7, 7.0, "a", "delete", 2),
            (7, -7.0, "upd", "insert", 2),
            (500, 1.0, "new", "insert", 2),
        ]
    )


def test_changes_stream_incremental(spark, table, tmp_path):
    ckpt = str(tmp_path / "ckpt")

    def drain():
        got = []

        def sink(df, _bid):
            got.extend(tuple(r) for r in df.collect())

        q = (
            spark.readStream.format("snapshot_changes")
            .option("path", table.root)
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    assert drain() == _rowset(table.read_changes(0))
    # new commits after the first drain: the SAME checkpoint resumes and
    # sees ONLY the delta
    table.append(_rows(spark, 1000, 1005, tag="late"))
    assert drain() == sorted(
        (k, float(k), "late", "insert", 3) for k in range(1000, 1005)
    )


def test_filter_pushdown_skips_files(spark, tmp_path):
    """Catalyst filters reach pushFilters and the commit log's footer
    stats skip non-matching files BEFORE partition planning — while the
    returned rows stay exact (filters are re-applied by Spark)."""
    register_datasources(spark)
    root = str(tmp_path / "sk")
    t = SnapshotTable.create(spark, root, SCHEMA, stats_cols=["k"])
    for lo in range(0, 100, 20):  # 5 disjoint-range single-file commits
        t.append(_rows(spark, lo, lo + 20).coalesce(1))
    base = spark.read.format("snapshot").option("path", root).load()
    # one scan partition per live file (inputFiles() is opaque for
    # python sources; partition count is the planning observable)
    assert base.rdd.getNumPartitions() == 5
    hit = base.filter("k >= 80")
    assert _rowset(hit.select("k", "v", "tag")) == sorted(
        (i, float(i), "a") for i in range(80, 100)
    )
    assert hit.rdd.getNumPartitions() == 1  # 4 of 5 files stats-skipped
    eq = base.filter("k = 42")
    assert eq.count() == 1 and eq.rdd.getNumPartitions() == 1
    # un-stats'd column: no skipping, still correct
    v = base.filter("v < 10.0")
    assert v.count() == 10 and v.rdd.getNumPartitions() == 5


def test_batch_write_append(spark, tmp_path):
    register_datasources(spark)
    root = str(tmp_path / "w")
    t = SnapshotTable.create(spark, root, "k bigint, v double")
    _rows(spark, 0, 20).select("k", "v").write.format("snapshot").option(
        "path", root
    ).mode("append").save()
    t2 = SnapshotTable(spark, root)
    assert t2.version == 1
    assert _rowset(t2.read()) == sorted((i, float(i)) for i in range(20))
    # second append accumulates
    _rows(spark, 20, 25).select("k", "v").write.format("snapshot").option(
        "path", root
    ).mode("append").save()
    assert SnapshotTable(spark, root).read().count() == 25
    # overwrite mode is refused loudly
    with pytest.raises(Exception, match="append"):
        _rows(spark, 0, 5).select("k", "v").write.format("snapshot").option(
            "path", root
        ).mode("overwrite").save()


def test_write_guards(spark, tmp_path):
    register_datasources(spark)
    bucketed = str(tmp_path / "b")
    SnapshotTable.create(
        spark, bucketed, "k bigint, v double", bucket_key=["k"], num_buckets=2
    )
    with pytest.raises(Exception, match="UNBUCKETED"):
        _rows(spark, 0, 5).select("k", "v").write.format("snapshot").option(
            "path", bucketed
        ).mode("append").save()
    plain = str(tmp_path / "p")
    SnapshotTable.create(spark, plain, "k bigint, v double")
    with pytest.raises(Exception, match="schema mismatch"):
        _rows(spark, 0, 5).write.format("snapshot").option(
            "path", plain
        ).mode("append").save()


def test_stream_write_exactly_once(spark, tmp_path):
    """writeStream.format('snapshot'): batch ids become txn versions in
    the commit log, so a FRESH-checkpoint full replay of the same stream
    commits zero new versions — the st9 guarantee through the standard
    sink surface."""
    import json
    import os

    register_datasources(spark)
    src = str(tmp_path / "src")
    root = str(tmp_path / "tbl")
    os.makedirs(src)
    t = SnapshotTable.create(spark, root, "k bigint, v double")
    for chunk in range(3):
        with open(os.path.join(src, f"c{chunk}.json"), "w") as f:
            for i in range(chunk * 10, chunk * 10 + 10):
                f.write(json.dumps({"k": i, "v": float(i)}) + "\n")

    def run(ck):
        q = (
            spark.readStream.schema("k bigint, v double")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.format("snapshot")
            .option("path", root)
            .option("appid", "pyds-test")
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck1")
    t1 = SnapshotTable(spark, root)
    assert _rowset(t1.read()) == sorted((i, float(i)) for i in range(30))
    v_before = t1.version
    run("ck2")  # full replay, fresh checkpoint: all batches must dedupe
    t2 = SnapshotTable(spark, root)
    assert t2.version == v_before
    assert t2.read().count() == 30
    assert t2.last_txn_version("pyds-test") >= 0


def test_stream_default_start_is_current(spark, table):
    """Without startingVersion the stream begins at the CURRENT version:
    history is not replayed, only future commits arrive."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.pydatasource import (
        SnapshotChangesStreamReader,
    )

    r = SnapshotChangesStreamReader({"path": table.root})
    assert r.initialOffset() == {"version": table.version}
    table.append(_rows(spark, 2000, 2002))
    assert r.latestOffset() == {"version": table.version}
    parts = r.partitions(
        {"version": table.version - 1}, {"version": table.version}
    )
    rows = [row for p in parts for row in r.read(p)]
    assert sorted(rows) == sorted(
        (k, float(k), "a", "insert", table.version) for k in (2000, 2001)
    )


def test_only_the_reader_registers_the_sources(spark, monkeypatch):
    """The session helpers register no Python data source (Spark's first
    registration in a process forks a Python lookup); the snapshot
    formats' readers call ``register_datasources``, which registers
    exactly those two formats."""
    from pyspark.sql.datasource import DataSourceRegistration

    from predicting_hospital_readmission_using_mimic_database_spark.session import (
        loop_session,
        small_plan_spark,
        tune_session,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    names = []
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda _self, ds: names.append(ds.name())
    )
    tune_session(spark)
    clone = small_plan_spark(spark, est_bytes=1)
    assert clone is not spark
    with loop_session(spark.range(3)) as (_sess, (frame,)):
        assert frame.count() == 3
    read_table(spark, SF_SMOKE, "customer").limit(1).collect()
    read_table(clone, SF_SMOKE, "customer").limit(1).collect()
    assert names == []
    register_datasources(spark)
    assert names == ["snapshot", "snapshot_changes"]
