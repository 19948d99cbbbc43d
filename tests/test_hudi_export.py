"""export_hudi (sources/hudi_export.py): SnapshotTable -> real COW
Hudi table — roundtrip, per-row commit-time carry-forward across
incremental exports, bucket-level rewrite granularity, deletes, the
no-op fast path, and the streaming/incremental consumers."""

import os

import pyspark.sql.functions as F
import pytest

from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
    HudiProtocolError,
    hudi_commits,
    read_hudi,
    read_hudi_incremental,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import export_hudi
from predicting_hospital_readmission_using_mimic_database_spark.sources.table import SnapshotTable


@pytest.fixture
def exported(spark, tmp_path):
    root = str(tmp_path / "tbl")
    dest = str(tmp_path / "hudi")
    t = SnapshotTable.create(
        spark, root, "k bigint, v double", bucket_key=["k"], num_buckets=4
    )
    t.append(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
    )
    inst1 = export_hudi(t, dest)
    return t, dest, inst1


def test_roundtrip_and_layout(spark, exported):
    t, dest, inst1 = exported
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, float(i)) for i in range(40)}
    # one file group per bucket, named per the Hudi convention
    files = sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    )
    import re as _re

    assert [
        _re.sub(r"_[0-9\-]+_", "_TOK_", f) for f in files
    ] == [f"b{b:04d}_TOK_{inst1}.parquet" for b in range(4)]
    assert hudi_commits(dest) == [inst1]
    with open(os.path.join(dest, ".hoodie", "hoodie.properties")) as f:
        props = f.read()
    assert "hoodie.table.type=COPY_ON_WRITE" in props
    assert "hoodie.table.recordkey.fields=k" in props
    # record keys and partition path are writer-shaped
    meta = read_hudi(spark, dest, keep_meta=True)
    r = meta.filter(F.col("k") == 7).collect()[0]
    assert r["_hoodie_record_key"] == "7"
    assert r["_hoodie_partition_path"] == ""
    assert r["_hoodie_commit_time"] == inst1
    # re-export with no table change: no-op, same instant
    assert export_hudi(t, dest) == inst1
    assert hudi_commits(dest) == [inst1]


def test_incremental_export_carries_commit_times(spark, exported):
    t, dest, inst1 = exported
    upd = spark.createDataFrame([(3, -3.0), (600, 1.0)], "k bigint, v double")
    t.merge(upd)
    inst2 = export_hudi(t, dest)
    assert inst2 > inst1
    # snapshot correct
    cur = {r["k"]: r["v"] for r in read_hudi(spark, dest).collect()}
    assert cur[3] == -3.0 and cur[600] == 1.0 and len(cur) == 41
    # true net changes only: carried-forward rows keep inst1, so the
    # incremental query emits exactly the merge's rows
    inc = {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=inst1).collect()
    }
    assert inc == {(3, -3.0), (600, 1.0)}
    # untouched buckets were not rewritten
    rewritten = {
        f for f in os.listdir(dest) if f.endswith(f"_{inst2}.parquet")
    }
    untouched = {
        f for f in os.listdir(dest) if f.endswith(f"_{inst1}.parquet")
    }
    assert rewritten and untouched
    touched_groups = {f.split("_")[0] for f in rewritten}
    assert touched_groups < {f"b{b:04d}" for b in range(4)}
    # time travel to the first export still sees the original state
    old = {r["k"]: r["v"] for r in read_hudi(spark, dest, as_of=inst1).collect()}
    assert old[3] == 3.0 and 600 not in old


def test_delete_disappears_without_markers(spark, exported):
    t, dest, inst1 = exported
    t.delete(F.col("k") == 5)
    inst2 = export_hudi(t, dest)
    assert 5 not in {r["k"] for r in read_hudi(spark, dest).collect()}
    # COW incremental carries no delete markers; the deleted row's
    # bucket was rewritten but its surviving rows kept inst1
    inc = read_hudi_incremental(spark, dest, begin=inst1)
    assert inc.count() == 0
    assert read_hudi(spark, dest).count() == 39
    assert inst2 in hudi_commits(dest)


def test_stream_consumes_exported_table(spark, exported, tmp_path):
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )

    t, dest, inst1 = exported
    t.merge(spark.createDataFrame([(700, 7.0)], "k bigint, v double"))
    export_hudi(t, dest)
    register_hudi_stream(spark)
    got = []

    def sink(df, _bid):
        got.extend((r["k"], r["v"], r["_commit_instant"]) for r in df.collect())

    q = (
        spark.readStream.format("hudi_stream").option("path", dest)
        .option("startingInstant", inst1).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert [(k, v) for k, v, _ in got] == [(700, 7.0)]


@pytest.fixture
def part_exported(spark, tmp_path):
    """Partitioned export: seg in {A, B}, 4 buckets, 40 rows."""
    root = str(tmp_path / "ptbl")
    dest = str(tmp_path / "phudi")
    t = SnapshotTable.create(
        spark, root, "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(
        spark.range(40).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("seg"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    inst1 = export_hudi(t, dest, partition_by=["seg"])
    return t, dest, inst1


def test_partitioned_export_layout_and_pruning(spark, part_exported):
    t, dest, inst1 = part_exported
    got = {(r["k"], r["seg"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, "AB"[i % 2]) for i in range(40)}
    # hive-style dirs, one file group per (partition, bucket), the
    # SAME fileId across partitions, partition columns in the data
    import re as _re

    for seg in ("A", "B"):
        files = sorted(os.listdir(os.path.join(dest, f"seg={seg}")))
        assert [
            _re.sub(r"_[0-9\-]+_", "_TOK_", f) for f in files
        ] == [f"b{b:04d}_TOK_{inst1}.parquet" for b in range(4)]
    with open(os.path.join(dest, ".hoodie", "hoodie.properties")) as f:
        assert "hoodie.table.partition.fields=seg" in f.read()
    meta = read_hudi(spark, dest, keep_meta=True)
    r = meta.filter(F.col("k") == 7).collect()[0]
    assert r["_hoodie_partition_path"] == "seg=B"
    # listing-level pruning: only the asked partition's files planned
    only_a = read_hudi(spark, dest, partitions="seg=A")
    assert {os.path.dirname(p).rsplit(os.sep, 1)[-1]
            for p in only_a.inputFiles()} == {"seg=A"}
    assert {r["k"] for r in only_a.collect()} == set(range(0, 40, 2))


def test_partitioned_export_incremental_carry_and_vanish(spark, part_exported):
    t, dest, inst1 = part_exported
    # merge: k=2 changes value (stays seg=A); k=3 MOVES partition
    # (seg B -> A via value change); k=1 deleted
    t.merge(
        spark.createDataFrame(
            [(2, "A", -2.0), (3, "A", 3.0)], "k bigint, seg string, v double"
        )
    )
    t.delete(F.col("k") == 1)
    inst2 = export_hudi(t, dest, partition_by=["seg"])
    assert inst2 > inst1
    got = {(r["k"], r["seg"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert (2, "A", -2.0) in got and (3, "A", 3.0) in got
    assert not any(k == 1 for k, _s, _v in got)
    assert len(got) == 39
    # carry-forward: unchanged rows keep inst1 per-row; changed rows
    # stamp inst2 — so the incremental feed is the true net change
    inc = read_hudi_incremental(spark, dest, begin=inst1)
    assert {(r["k"], r["seg"], r["v"]) for r in inc.collect()} == {
        (2, "A", -2.0), (3, "A", 3.0)
    }
    # time travel still serves the pre-merge state
    assert read_hudi(spark, dest, as_of=inst1).count() == 40


def test_partitioned_export_mismatch_and_null_refuse(spark, tmp_path):
    t = SnapshotTable.create(
        spark, str(tmp_path / "t2"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, None, 2.0)], "k bigint, seg string, v double"
        )
    )
    dest = str(tmp_path / "h2")
    with pytest.raises(ValueError, match="NULL"):
        export_hudi(t, dest, partition_by=["seg"])
    with pytest.raises(ValueError, match="unknown columns"):
        export_hudi(t, dest, partition_by=["nope"])
    # layout consistency across exports is enforced
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t3"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t2.append(spark.createDataFrame([(1, "A", 1.0)],
                                    "k bigint, seg string, v double"))
    dest2 = str(tmp_path / "h3")
    export_hudi(t2, dest2, partition_by=["seg"])
    t2.merge(spark.createDataFrame([(1, "A", -1.0)],
                                   "k bigint, seg string, v double"))
    with pytest.raises(ValueError, match="mix layouts"):
        export_hudi(t2, dest2)


def test_stream_consumes_partitioned_export(spark, part_exported, tmp_path):
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )

    t, dest, inst1 = part_exported
    t.merge(spark.createDataFrame([(700, "A", 7.0)],
                                  "k bigint, seg string, v double"))
    export_hudi(t, dest, partition_by=["seg"])
    register_hudi_stream(spark)
    got = []

    def sink(df, _bid):
        got.extend((r["k"], r["seg"], r["v"]) for r in df.collect())

    q = (
        spark.readStream.format("hudi_stream").option("path", dest)
        .option("startingInstant", inst1).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "pck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert got == [(700, "A", 7.0)]


def test_unbucketed_table_refuses(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "nb"), "k bigint, v double")
    t.append(spark.range(3).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.0).alias("v")))
    with pytest.raises(ValueError, match="record key"):
        export_hudi(t, str(tmp_path / "out"))


def test_schema_evolution_export_roundtrip(spark, exported):
    """A merge_schema append adds a column: the next export rewrites
    touched buckets under the WIDENED schema, untouched buckets keep
    their old-schema files, and the read null-fills them — with
    carry-forward still exact (old rows hash equal to new rows whose
    added column is null, so only the appended rows are restamped)."""
    t, dest, inst1 = exported
    t.append(
        spark.createDataFrame([(900, 9.0, "tagged")],
                              "k bigint, v double, tag string"),
        merge_schema=True,
    )
    inst2 = export_hudi(t, dest)
    cur = read_hudi(spark, dest)
    assert cur.columns == ["k", "v", "tag"]
    rows = {(r["k"], r["v"], r["tag"]) for r in cur.collect()}
    assert (900, 9.0, "tagged") in rows
    assert (0, 0.0, None) in rows and len(rows) == 41
    # only the appended row landed in the incremental window
    inc = read_hudi_incremental(spark, dest, begin=inst1).collect()
    assert [(r["k"], r["v"], r["tag"]) for r in inc] == [(900, 9.0, "tagged")]
    assert inst2 in hudi_commits(dest)


def test_mor_export_log_appends(spark, tmp_path):
    """MERGE_ON_READ export: the first export writes base files under
    a deltacommit; later exports append ONE log file per touched group
    (AVRO upserts + DELETE tombstones) with ZERO base rewrites; a
    second delta bumps the log version on the same slice; snapshot,
    incremental, and streaming reads all fold the appends; the
    COW/MOR and partition_by gates hold."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        read_hudi_incremental,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert os.path.exists(os.path.join(dest, ".hoodie", f"{i1}.deltacommit"))
    with open(os.path.join(dest, ".hoodie", "hoodie.properties")) as f:
        assert "hoodie.table.type=MERGE_ON_READ" in f.read()
    # mixing table types on re-export refuses
    t.merge(spark.createDataFrame([(3, "V3"), (100, "v100")],
                                  "k bigint, v string"))
    t.delete(F.col("k") == 7)
    with pytest.raises(ValueError, match="mix table types"):
        export_hudi(t, dest)
    n_base = len(glob.glob(os.path.join(dest, "*.parquet")))
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert i2 > i1
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == n_base
    logs = [f for f in os.listdir(dest) if ".log." in f]
    assert logs and all(f.startswith(".b") for f in logs)
    exp2 = {(i, f"v{i}") for i in range(20) if i not in (3, 7)} | {
        (3, "V3"), (100, "v100")
    }
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp2
    assert {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=i1).collect()
    } == {(3, "V3"), (100, "v100")}
    # second delta on the same group: log VERSION bumps, same slice
    t.merge(spark.createDataFrame([(3, "W3")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    vers = sorted(
        f.split(".log.")[1] for f in os.listdir(dest)
        if f.startswith(".b0003_")
    )
    assert [v.split("_")[0] for v in vers] == ["1", "2"]
    exp3 = (exp2 - {(3, "V3")}) | {(3, "W3")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp3
    # the stream folds base + both log generations
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )

    register_hudi_stream(spark)
    got: list = []
    q = (
        spark.readStream.format("hudi_stream").option("path", dest)
        .option("startingInstant", "0").load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend((r["k"], r["v"]) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert set(got) == exp3 and len(got) == len(exp3)
    # a version bump with ZERO file changes (stats-pruned no-match
    # delete) advances the marker through the not-touched branch —
    # which must KEEP table_type or the mixing gate breaks next time
    t.delete(F.col("k") == 424242, prune=[("k", 424242, 424242)])
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    with pytest.raises(ValueError, match="mix table types"):
        export_hudi(t, dest)


def test_hudi_commits_lists_mor_timeline(spark, tmp_path):
    """hudi_commits on a MERGE_ON_READ table lists its deltacommits (a
    COPY_ON_WRITE timeline holding one is still malformed)."""
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.range(8).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(3, 30.0), (9, 9.0)], "k bigint, v double"))
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert hudi_commits(dest) == [i1, i2]
    props = os.path.join(dest, ".hoodie", "hoodie.properties")
    with open(props) as f:
        text = f.read()
    with open(props, "w") as f:
        f.write(text.replace("MERGE_ON_READ", "COPY_ON_WRITE"))
    with pytest.raises(HudiProtocolError, match="deltacommit"):
        hudi_commits(dest)


def test_mor_compaction(spark, tmp_path):
    """compact_hudi: logged groups' base+log folds rewrite as new base
    files at the next instant (.commit), stale logs stop applying,
    per-row commit times survive (zero phantom incremental rows), a
    log-free table is a no-op, later exports append logs to the
    COMPACTED slice, and COW tables refuse."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        read_hudi_incremental,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1"), (50, "v50")],
                                  "k bigint, v string"))
    t.delete(F.col("k") == 4)
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    exp = {(i, f"v{i}") for i in range(10) if i not in (1, 4)} | {
        (1, "V1"), (50, "v50")
    }
    ci = compact_hudi(spark, dest)
    assert ci is not None and ci > i2
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp
    # commit times preserved through the rewrite
    assert {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=i1).collect()
    } == {(1, "V1"), (50, "v50")}
    assert read_hudi_incremental(spark, dest, begin=ci).count() == 0
    # log-free now: compaction is a no-op
    assert compact_hudi(spark, dest) is None
    # the NEXT export appends its log to the compacted slice (its
    # instant sorting past the compaction commit)
    t.merge(spark.createDataFrame([(2, "W2")], "k bigint, v string"))
    i3 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert i3 > ci
    assert [f for f in os.listdir(dest) if f"_{ci}.log" in f]
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == (exp - {(2, "v2")}) | {(2, "W2")}
    # COW tables refuse
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t2"), "k bigint", bucket_key=["k"],
        num_buckets=1,
    )
    t2.append(spark.range(3).select(F.col("id").alias("k")))
    dest2 = str(tmp_path / "cow")
    export_hudi(t2, dest2)
    with pytest.raises(ValueError, match="MERGE_ON_READ"):
        compact_hudi(spark, dest2)

def test_mor_partitioned_export_moves_and_log_only_groups(spark, tmp_path):
    """MERGE_ON_READ + partition_by: incremental publishes stay log
    appends per (partition, fileId) group — an in-place update logs an
    upsert in its partition, a key that MOVES partitions logs a DELETE
    tombstone in the old group plus an upsert in the new one, a first
    row in a brand-new partition starts a LOG-ONLY file group, and a
    gone key logs a tombstone — with ZERO base-file rewrites."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        read_hudi_incremental,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(
        spark.range(40).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 2 == 0, "A").otherwise("B").alias("seg"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    assert os.path.exists(os.path.join(dest, ".hoodie", f"{i1}.deltacommit"))
    import re as _re

    for seg in ("A", "B"):
        files = sorted(os.listdir(os.path.join(dest, f"seg={seg}")))
        assert [
            _re.sub(r"_[0-9\-]+_", "_TOK_", f) for f in files
        ] == [f"b{b:04d}_TOK_{i1}.parquet" for b in range(4)]
    n_base = len(glob.glob(os.path.join(dest, "**", "*.parquet"),
                           recursive=True))
    # k=2 updates in place (stays A); k=3 MOVES B->A; k=100 lands in a
    # brand-new partition C; k=1 is deleted
    t.merge(
        spark.createDataFrame(
            [(2, "A", -2.0), (3, "A", 3.0), (100, "C", 100.0)],
            "k bigint, seg string, v double",
        )
    )
    t.delete(F.col("k") == 1)
    i2 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    assert i2 > i1
    # zero base rewrites: the delta is log appends only
    assert len(glob.glob(os.path.join(dest, "**", "*.parquet"),
                         recursive=True)) == n_base
    assert glob.glob(os.path.join(dest, "seg=A", ".b*.log.*"))
    assert glob.glob(os.path.join(dest, "seg=B", ".b*.log.*"))
    # the new partition exists as a LOG-ONLY file group
    c_files = os.listdir(os.path.join(dest, "seg=C"))
    assert c_files and all(".log." in f for f in c_files)
    exp = {(i, "AB"[i % 2], float(i)) for i in range(40) if i not in (1, 2, 3)}
    exp |= {(2, "A", -2.0), (3, "A", 3.0), (100, "C", 100.0)}
    got = {(r["k"], r["seg"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp
    # the moved key resolved: exactly one k=3 row, in seg=A
    metas = read_hudi(spark, dest, keep_meta=True).filter(
        F.col("k") == 3
    ).collect()
    assert len(metas) == 1
    assert metas[0]["_hoodie_partition_path"] == "seg=A"
    # incremental feed = the net upserts only (tombstones invisible)
    inc = {
        (r["k"], r["seg"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=i1).collect()
    }
    assert inc == {(2, "A", -2.0), (3, "A", 3.0), (100, "C", 100.0)}
    # partition pruning reads only the asked dir's groups
    only_c = read_hudi(spark, dest, partitions="seg=C")
    assert {(r["k"], r["v"]) for r in only_c.collect()} == {(100, 100.0)}
    # time travel to the first export still serves the old state
    assert read_hudi(spark, dest, as_of=i1).count() == 40
    # compaction folds every logged group (the log-only one gets its
    # first base file) with zero phantom incremental rows
    ci = compact_hudi(spark, dest)
    assert ci is not None and ci > i2
    got2 = {(r["k"], r["seg"], r["v"])
            for r in read_hudi(spark, dest).collect()}
    assert got2 == exp
    assert glob.glob(os.path.join(dest, "seg=C", "*.parquet"))
    assert read_hudi_incremental(spark, dest, begin=ci).count() == 0
    # a later export appends to the compacted slices
    t.merge(spark.createDataFrame([(100, "C", -100.0)],
                                  "k bigint, seg string, v double"))
    i3 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    assert i3 > ci
    assert {(r["k"], r["v"])
            for r in read_hudi(spark, dest, partitions="seg=C").collect()
            } == {(100, -100.0)}

def test_compaction_of_fully_tombstoned_group(spark, tmp_path):
    """A group whose fold is EMPTY (every key tombstoned in the logs)
    still compacts to a real — empty — base file: the stale logs stop
    applying and the next compaction is a no-op instead of re-planning
    the group forever."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        bucket_key=["k"], num_buckets=1,
    )
    t.append(spark.range(3).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.0).alias("v")))
    dest = str(tmp_path / "mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.delete(F.col("k") >= 0)
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert read_hudi(spark, dest).count() == 0
    ci = compact_hudi(spark, dest)
    assert ci is not None
    # the empty fold materialized as a new base file at the instant
    assert glob.glob(os.path.join(dest, f"*_{ci}.parquet"))
    assert read_hudi(spark, dest).count() == 0
    # stale logs no longer apply: nothing left to compact
    assert compact_hudi(spark, dest) is None

def test_cdc_and_stream_over_partitioned_mor_move(spark, tmp_path):
    """read_hudi_changes and hudi_stream over a PARTITIONED MOR export
    whose delta moved a key across partitions: CDC emits the move as a
    delete (old partition, before image) + insert (new partition,
    after image) — the two images a real global-index writer's feed
    carries — and the plain stream emits the moved key ONCE, in its
    new partition."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi_changes,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0), (3, "B", 3.0)],
            "k bigint, seg string, v double",
        )
    )
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    # k=2 moves B -> A (value change rides along); k=3 updates in place
    t.merge(
        spark.createDataFrame(
            [(2, "A", -2.0), (3, "B", 33.0)], "k bigint, seg string, v double"
        )
    )
    i2 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    ch = read_hudi_changes(spark, dest, begin=i1)
    got = {
        (r["op"], tuple(r["before"]) if r["before"] else None,
         tuple(r["after"]) if r["after"] else None)
        for r in ch.collect()
    }
    assert got == {
        ("d", (2, "B", 2.0), None),
        ("i", None, (2, "A", -2.0)),
        ("u", (3, "B", 3.0), (3, "B", 33.0)),
    }, got
    assert {r["ts_ms"] for r in ch.collect()} == {i2}
    # the plain stream emits the moved key ONCE, in its new partition
    register_hudi_stream(spark)
    got_s = []
    q = (
        spark.readStream.format("hudi_stream").option("path", dest)
        .option("startingInstant", i1).load()
        .writeStream.foreachBatch(
            lambda df, _b: got_s.extend(
                (r["k"], r["seg"], r["v"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert sorted(got_s) == [(2, "A", -2.0), (3, "B", 33.0)]

def test_exports_keep_metadata_table_in_sync(spark, tmp_path, monkeypatch):
    """Once the metadata table exists, every export/compaction commit
    appends its new file entries incrementally — the listing never
    goes stale, so readers keep resolving from the MDT (walk blocked)
    across COW rewrites, MOR log appends, and compaction."""
    import predicting_hospital_readmission_using_mimic_database_spark.sources.hudi as H
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        write_metadata_table_files,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    # --- COW: rewrite commits stay listed
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.range(8).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.0).alias("v")))
    dest = str(tmp_path / "cow")
    export_hudi(t, dest)
    write_metadata_table_files(dest)
    assert H._metadata_table_listing(dest) is not None
    t.merge(spark.createDataFrame([(3, -3.0), (100, 1.0)],
                                  "k bigint, v double"))
    export_hudi(t, dest)
    # the sync kept the listing FRESH: no walk fallback
    assert H._metadata_table_listing(dest) is not None

    def no_walk(*a, **k):
        raise AssertionError("os.walk taken despite a synced MDT")

    monkeypatch.setattr(H.os, "walk", no_walk)
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, float(i)) for i in range(8) if i != 3} | {
        (3, -3.0), (100, 1.0)
    }
    monkeypatch.undo()

    # --- MOR: log-append commits and the compaction stay listed
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t2"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t2.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k bigint, v string"))
    dest2 = str(tmp_path / "mor")
    export_hudi(t2, dest2, table_type="MERGE_ON_READ")
    write_metadata_table_files(dest2)
    t2.merge(spark.createDataFrame([(1, "V1"), (50, "v50")],
                                   "k bigint, v string"))
    export_hudi(t2, dest2, table_type="MERGE_ON_READ")
    assert H._metadata_table_listing(dest2) is not None
    ci = compact_hudi(spark, dest2)
    assert ci is not None
    assert H._metadata_table_listing(dest2) is not None
    monkeypatch.setattr(H.os, "walk", no_walk)
    exp = {(i, f"v{i}") for i in range(6) if i != 1} | {(1, "V1"), (50, "v50")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest2).collect()} == exp
    # a table with NO metadata table is untouched by the sync (no-op)
    assert not os.path.isdir(
        os.path.join(str(tmp_path / "cow2"), ".hoodie", "metadata")
    )

def test_clean_retains_horizon_and_gates_time_travel(spark, tmp_path,
                                                     monkeypatch):
    """clean_hudi (KEEP_LATEST_COMMITS): superseded slices below the
    horizon are physically removed, time travel at/after the horizon
    keeps working, time travel and CDC windows BEFORE it raise
    honestly, a .clean action lands on the timeline without counting
    as a data commit, the MDT learns the deletions, and a second clean
    with nothing to do is a no-op."""
    import glob

    import pyspark.sql.functions as F

    import predicting_hospital_readmission_using_mimic_database_spark.sources.hudi as H
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        read_hudi,
        read_hudi_changes,
        write_metadata_table_files,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.range(6).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.0).alias("v")))
    dest = str(tmp_path / "cow")
    insts = [export_hudi(t, dest)]
    for i in range(3):
        t.merge(spark.createDataFrame([(i, float(100 + i))],
                                      "k bigint, v double"))
        insts.append(export_hudi(t, dest))
    write_metadata_table_files(dest)
    n_files = len(glob.glob(os.path.join(dest, "*.parquet")))
    # retain the last 2 commits: the horizon is insts[-2]
    ci = clean_hudi(dest, retain_commits=2)
    assert ci is not None
    assert os.path.exists(os.path.join(dest, ".hoodie", f"{ci}.clean"))
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) < n_files
    # current + horizon reads fine; pre-horizon raises
    cur = {r["k"]: r["v"] for r in read_hudi(spark, dest).collect()}
    assert cur[0] == 100.0 and cur[2] == 102.0
    assert read_hudi(spark, dest, as_of=insts[-2]).count() == 6
    with pytest.raises(HudiProtocolError, match="cleaner horizon"):
        read_hudi(spark, dest, as_of=insts[0])
    with pytest.raises(HudiProtocolError, match="cleaner horizon"):
        read_hudi_changes(spark, dest, begin=insts[0])
    # a window at/after the horizon still serves CDC
    assert read_hudi_changes(spark, dest, begin=insts[-2]).count() > 0
    # the MDT learned the deletions: listing fresh, walk never taken
    assert H._metadata_table_listing(dest) is not None

    def no_walk(*a, **k):
        raise AssertionError("os.walk taken despite a synced MDT")

    monkeypatch.setattr(H.os, "walk", no_walk)
    assert {r["k"] for r in read_hudi(spark, dest).collect()} == set(range(6))
    monkeypatch.undo()
    # nothing left below the horizon: no-op
    assert clean_hudi(dest, retain_commits=2) is None
    # validation
    with pytest.raises(ValueError, match="retain_commits"):
        clean_hudi(dest, retain_commits=0)


def test_clean_mor_drops_superseded_logs(spark, tmp_path):
    """On MERGE_ON_READ, cleaning a superseded slice removes its base
    AND its attached log files; the compacted current slice keeps
    serving, and the stale logs can no longer resurrect."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=1,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k bigint, v string"))
    dest = str(tmp_path / "mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    ci = compact_hudi(spark, dest)
    assert ci is not None
    assert glob.glob(os.path.join(dest, ".b*.log.*"))
    # retain only the compaction commit: the pre-compaction slice
    # (old base + its logs) goes away
    cleaned = clean_hudi(dest, retain_commits=1)
    assert cleaned is not None
    assert not glob.glob(os.path.join(dest, ".b*.log.*"))
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == 1
    exp = {(i, f"v{i}") for i in range(5) if i != 1} | {(1, "V1")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp

def test_clean_gates_cdc_stream_but_not_net_stream(spark, tmp_path):
    """After a clean, a CDC stream whose start predates the horizon
    raises (its per-commit spec diffs need the removed slices); the
    PLAIN stream keeps serving from the same start — net semantics
    read only current slices, whose per-row commit times survived the
    clean."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v double",
        bucket_key=["k"], num_buckets=1,
    )
    t.append(spark.range(4).select(F.col("id").alias("k"),
                                   (F.col("id") * 1.0).alias("v")))
    dest = str(tmp_path / "cow")
    i1 = export_hudi(t, dest)
    t.merge(spark.createDataFrame([(1, -1.0)], "k bigint, v double"))
    export_hudi(t, dest)
    t.merge(spark.createDataFrame([(2, -2.0)], "k bigint, v double"))
    export_hudi(t, dest)
    assert clean_hudi(dest, retain_commits=2) is not None
    register_hudi_stream(spark)

    def drain(ck, **opts):
        got = []
        reader = (spark.readStream.format("hudi_stream")
                  .option("path", dest).option("startingInstant", i1))
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (reader.load().writeStream
             .foreachBatch(lambda df, _b: got.extend(
                 tuple(r) for r in df.collect()))
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return got

    # plain stream: net rows since i1 off the CURRENT slices
    got = drain(str(tmp_path / "ck1"))
    assert sorted((k, v) for k, v, _i in got) == [(1, -1.0), (2, -2.0)]
    # CDC stream from below the horizon: honest refusal
    with pytest.raises(Exception) as ei:
        drain(str(tmp_path / "ck2"), incrementalFormat="cdc")
    assert "cleaner horizon" in str(ei.value)

def test_export_indexes_new_bases_in_stats_and_bloom(spark, tmp_path):
    """Once column_stats / bloom_filters MDT partitions exist, every
    export commit indexes its NEW base files incrementally — predicate
    and record-key pruning keep working on post-bootstrap files."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        write_metadata_table_bloom_filters,
        write_metadata_table_column_stats,
        write_metadata_table_files,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v bigint",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(spark.range(40).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("v")))
    dest = str(tmp_path / "cow")
    export_hudi(t, dest)
    write_metadata_table_files(dest)
    write_metadata_table_column_stats(dest)
    write_metadata_table_bloom_filters(dest)
    # a merge rewrites ONE bucket; the new base file must get indexed
    t.merge(spark.createDataFrame([(3, 99999)], "k bigint, v bigint"))
    i2 = export_hudi(t, dest)
    # stats: the rewritten file's v-bounds now include 99999, so a
    # v>=99999 predicate plans EXACTLY the rewritten group's file
    hot = read_hudi(spark, dest, predicates=[("v", ">=", 99999)])
    planned = hot.inputFiles()
    assert len(planned) == 1 and f"_{i2}.parquet" in planned[0]
    assert {r["k"] for r in hot.filter(F.col("v") >= 99999).collect()} == {3}
    # bloom: a key living only in the NEW file still point-looks-up
    by_key = read_hudi(spark, dest, record_keys=["3"])
    assert len(by_key.inputFiles()) == 1
    assert {r["v"] for r in by_key.filter(F.col("k") == 3).collect()} == {
        99999
    }
    # a key that exists nowhere prunes everything
    none = read_hudi(spark, dest, record_keys=["424242"])
    assert len(none.inputFiles()) == 0 or none.count() == 0

def test_cluster_sorts_ranges_and_preserves_times(spark, tmp_path):
    """cluster_hudi: the SORT clustering strategy — current groups
    rewrite as range-disjoint new file groups under a replacecommit;
    per-row commit times survive (zero phantom incrementals); with a
    metadata table + column stats, a range predicate on the clustered
    key plans ONLY the covering group; time travel before the instant
    still sees the old layout; a later export refuses (the bucket ->
    fileId mapping is gone); compaction routes rows of clustered
    groups by their rewritten _hoodie_file_name."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        read_hudi_incremental,
        write_metadata_table_column_stats,
        write_metadata_table_files,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        cluster_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v bigint",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(spark.range(40).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("v")))
    dest = str(tmp_path / "cow")
    i1 = export_hudi(t, dest)
    write_metadata_table_files(dest)
    write_metadata_table_column_stats(dest)
    # hash-bucketed layout: every group spans the full v range, so a
    # v-predicate cannot prune anything
    assert len(read_hudi(
        spark, dest, predicates=[("v", ">=", 300)]
    ).inputFiles()) == 4
    ci = cluster_hudi(spark, dest, sort_by=["v"], target_file_groups=4)
    assert ci is not None and ci > i1
    assert os.path.exists(
        os.path.join(dest, ".hoodie", f"{ci}.replacecommit"))
    # content identical, layout range-disjoint: the same predicate now
    # plans exactly the covering group(s)
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, i * 10) for i in range(40)}
    hot = read_hudi(spark, dest, predicates=[("v", ">=", 300)])
    assert len(hot.inputFiles()) == 1
    assert {r["k"] for r in hot.filter(F.col("v") >= 300).collect()} == set(
        range(30, 40))
    # zero phantom incrementals: commit times carried through
    assert read_hudi_incremental(spark, dest, begin=i1).count() == 0
    # pre-cluster time travel sees the old groups
    assert read_hudi(spark, dest, as_of=i1).count() == 40
    assert {os.path.basename(p)[0]
            for p in read_hudi(spark, dest, as_of=i1).inputFiles()} == {"b"}
    # export after clustering refuses honestly
    t.merge(spark.createDataFrame([(1, -1)], "k bigint, v bigint"))
    with pytest.raises(ValueError, match="replacecommit-retired"):
        export_hudi(t, dest)
    # validation
    with pytest.raises(ValueError, match="sort_by"):
        cluster_hudi(spark, dest, sort_by=[])
    with pytest.raises(ValueError, match="unknown columns"):
        cluster_hudi(spark, dest, sort_by=["nope"])


def test_cluster_zorder_prunes_both_dims(spark, tmp_path):
    """cluster_hudi(zorder_by=): the Z-ORDER strategy — Morton-curve
    layout makes column stats selective on BOTH listed columns at
    once, where a linear sort only helps its leading key."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
        read_hudi_incremental,
        write_metadata_table_column_stats,
        write_metadata_table_files,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        cluster_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, a bigint, b bigint",
        bucket_key=["k"], num_buckets=4,
    )
    t.append(spark.range(8000).select(
        F.col("id").alias("k"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") * 7 % 89).alias("b"),
    ))
    dest = str(tmp_path / "cow")
    i1 = export_hudi(t, dest)
    write_metadata_table_files(dest)
    write_metadata_table_column_stats(dest)
    ci = cluster_hudi(spark, dest, zorder_by=["a", "b"],
                      target_file_groups=8)
    assert ci is not None and ci > i1
    got = read_hudi(spark, dest)
    n_files = len(got.inputFiles())
    assert n_files == 8
    # both-dims point range plans a minority of the groups
    hot = read_hudi(
        spark, dest, predicates=[("a", "<", 10), ("b", "<", 10)]
    )
    assert len(hot.inputFiles()) < n_files / 2
    # content identical + zero phantom incrementals
    assert got.count() == 8000
    assert read_hudi_incremental(spark, dest, begin=i1).count() == 0
    # exactly one of sort_by / zorder_by
    with pytest.raises(ValueError, match="exactly one"):
        cluster_hudi(spark, dest, sort_by=["a"], zorder_by=["b"])
    with pytest.raises(ValueError, match="exactly one"):
        cluster_hudi(spark, dest)


def test_cluster_mor_folds_logs_then_compact_routes(spark, tmp_path):
    """Clustering a MOR table folds base+logs first (it subsumes
    compaction for the groups it touches); a LATER log append onto a
    clustered group compacts correctly — row routing reads the
    rewritten _hoodie_file_name."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources import (
        hudi_log as HL,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        cluster_hudi,
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k bigint, v string"))
    dest = str(tmp_path / "mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    ci = cluster_hudi(spark, dest, sort_by=["k"], target_file_groups=2)
    assert ci is not None
    exp = {(i, f"v{i}") for i in range(8) if i != 1} | {(1, "V1")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp
    # append a log to a CLUSTERED group by hand (the foreign-writer
    # shape) and compact: routing must resolve the c-prefixed fileId
    import glob

    base = sorted(glob.glob(os.path.join(dest, f"c0000-{ci}_*.parquet")))[0]
    import re as _re

    fid = _re.match(r"^(.+)_[0-9\-]+_\d+\.parquet$",
                    os.path.basename(base)).group(1)
    nxt = f"{int(ci) + 1:014d}"
    lp = os.path.join(dest, HL.log_file_name(fid, ci, 1))
    HL.append_avro_block(
        lp, nxt,
        {"type": "record", "name": "rec", "fields": [
            {"name": "_hoodie_commit_time", "type": ["null", "string"]},
            {"name": "_hoodie_commit_seqno", "type": ["null", "string"]},
            {"name": "_hoodie_record_key", "type": ["null", "string"]},
            {"name": "_hoodie_partition_path", "type": ["null", "string"]},
            {"name": "_hoodie_file_name", "type": ["null", "string"]},
            {"name": "k", "type": ["null", "long"]},
            {"name": "v", "type": ["null", "string"]},
        ]},
        [{"_hoodie_commit_time": nxt, "_hoodie_commit_seqno": nxt,
          "_hoodie_record_key": "0", "_hoodie_partition_path": "",
          "_hoodie_file_name": os.path.basename(lp),
          "k": 0, "v": "W0"}],
    )
    open(os.path.join(dest, ".hoodie", f"{nxt}.deltacommit"), "w").close()
    ci2 = compact_hudi(spark, dest)
    assert ci2 is not None
    exp2 = (exp - {(0, "v0")}) | {(0, "W0")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp2

def test_clean_removes_superseded_log_only_chains(spark, tmp_path):
    """A LOG-ONLY slice later compacted away (its chain's base_instant
    matches no surviving base file) is still reclaimed by the cleaner:
    any chain below the group's kept base is superseded whatever it
    attached to."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        compact_hudi,
        export_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=1,
    )
    t.append(spark.createDataFrame([(1, "A", 1.0)],
                                   "k bigint, seg string, v double"))
    dest = str(tmp_path / "mor")
    export_hudi(t, dest, partition_by=["seg"], table_type="MERGE_ON_READ")
    # k=2 lands in a brand-new partition: a LOG-ONLY file group
    t.merge(spark.createDataFrame([(2, "B", 2.0)],
                                  "k bigint, seg string, v double"))
    export_hudi(t, dest, partition_by=["seg"], table_type="MERGE_ON_READ")
    assert glob.glob(os.path.join(dest, "seg=B", ".b*.log.*"))
    assert not glob.glob(os.path.join(dest, "seg=B", "*.parquet"))
    # compaction writes the group's first base; the old chain is now a
    # superseded slice whose base_instant matches NO base file
    assert compact_hudi(spark, dest) is not None
    assert clean_hudi(dest, retain_commits=1) is not None
    assert not glob.glob(os.path.join(dest, "seg=B", ".b*.log.*"))
    got = {(r["k"], r["seg"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(1, "A", 1.0), (2, "B", 2.0)}


def test_async_compaction_states(spark, tmp_path):
    """Async compaction (schedule_compaction + plan-completing
    compact_hudi): the requested plan takes a timeline slot, readers
    keep folding the pending groups' logs onto the OLD base, a
    mid-pending merge's log appends attach to the REQUESTED instant,
    completion writes the new bases AT the plan's instant without
    baking in post-schedule rows, and every consumer (snapshot,
    incremental, stream, time travel) stays exact throughout."""
    import glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _completed_commits,
        read_hudi,
        read_hudi_incremental,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        cluster_hudi,
        compact_hudi,
        export_hudi,
        schedule_compaction,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1"), (50, "v50")],
                                  "k bigint, v string"))
    t.delete(F.col("k") == 4)
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    exp2 = {(i, f"v{i}") for i in range(10) if i not in (1, 4)} | {
        (1, "V1"), (50, "v50")
    }
    hdir = os.path.join(dest, ".hoodie")

    # ---- schedule: plan on the timeline, nothing rewritten ----------
    ci = schedule_compaction(dest)
    assert ci is not None and ci > i2
    assert os.path.exists(os.path.join(hdir, f"{ci}.compaction.requested"))
    assert ci not in _completed_commits(dest, allow_delta=True)  # pending
    n_base = len(glob.glob(os.path.join(dest, "*.parquet")))
    snap = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert snap == exp2
    # every logged group is already planned: re-scheduling is a no-op
    assert schedule_compaction(dest) is None

    # ---- mid-pending write: appends target the requested instant ----
    t.merge(spark.createDataFrame([(2, "W2"), (60, "v60")],
                                  "k bigint, v string"))
    i3 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert i3 > ci  # the pending slot was taken
    assert [f for f in os.listdir(dest) if f"_{ci}.log" in f]
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == n_base
    exp3 = (exp2 - {(2, "v2")}) | {(2, "W2"), (60, "v60")}
    # readers fold old base + old logs + the pending chain
    snap = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert snap == exp3
    assert {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=i2).collect()
    } == {(2, "W2"), (60, "v60")}
    # clustering refuses while a plan is pending
    with pytest.raises(HudiProtocolError, match="pending compaction"):
        cluster_hudi(spark, dest, sort_by=["k"])

    # ---- complete: new bases AT the plan's instant ------------------
    done_inst = compact_hudi(spark, dest)
    assert done_inst == ci
    assert os.path.exists(os.path.join(hdir, f"{ci}.compaction.inflight"))
    assert os.path.exists(os.path.join(hdir, f"{ci}.commit"))
    new_bases = glob.glob(os.path.join(dest, f"*_{ci}.parquet"))
    assert new_bases
    # post-schedule rows are NOT baked into the compacted bases: the
    # fold ran at the plan's instant
    baked = spark.read.parquet(*new_bases)
    assert baked.filter(F.col("_hoodie_commit_time") > ci).count() == 0
    assert {(r["k"], r["v"]) for r in baked.select("k", "v").collect()} == exp2
    # ...while the snapshot folds the ci-attached chain on top
    snap = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert snap == exp3
    # zero phantom rows across the whole history
    assert {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=i1).collect()
    } == {(1, "V1"), (50, "v50"), (2, "W2"), (60, "v60")}
    assert read_hudi_incremental(spark, dest, begin=i3).count() == 0
    # time travel below the schedule still serves the old fold
    assert {
        (r["k"], r["v"])
        for r in read_hudi(spark, dest, as_of=i2).collect()
    } == exp2

    # ---- the stream over the finished timeline ----------------------
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_stream import (
        register_hudi_stream,
    )

    register_hudi_stream(spark)
    got: list = []
    q = (
        spark.readStream.format("hudi_stream").option("path", dest)
        .option("startingInstant", "0").load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend((r["k"], r["v"]) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert set(got) == exp3 and len(got) == len(exp3)

    # ---- a second cycle folds the ci chain into fresh bases ---------
    ci2 = schedule_compaction(dest)
    assert ci2 is not None and ci2 > i3
    assert compact_hudi(spark, dest) == ci2
    snap = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert snap == exp3
    # a log-free table schedules nothing
    assert schedule_compaction(dest) is None


def test_timeline_archival_mor_bounds_and_gates(spark, tmp_path):
    """archive_hudi_timeline on MERGE_ON_READ: archival never crosses
    the earliest PENDING compaction instant, archived deltacommits keep
    counting as committed (log blocks still fold), an archived CLEAN's
    horizon keeps gating time travel, and repeated archivals keep the
    boundary monotonic."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _archive_boundary,
        _clean_horizon,
        read_hudi,
        read_hudi_incremental,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        archive_hudi_timeline,
        clean_hudi,
        compact_hudi,
        export_hudi,
        schedule_compaction,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    instants = [export_hudi(t, dest, table_type="MERGE_ON_READ")]
    for j in range(1, 6):  # 5 log-append deltacommits
        t.merge(spark.createDataFrame([(j, f"w{j}")], "k bigint, v string"))
        instants.append(export_hudi(t, dest, table_type="MERGE_ON_READ"))
    exp = {(i, f"v{i}") for i in range(10) if i > 5} | {
        (0, "v0")} | {(j, f"w{j}") for j in range(1, 6)}

    # fewer completed than keep_instants: no-op
    assert archive_hudi_timeline(dest, keep_instants=10) == []

    # a pending compaction CAPS the archival bound below it
    ci = schedule_compaction(dest)
    assert ci is not None
    # keep_instants=1 would otherwise archive everything below the
    # newest completed instant — but the pending plan holds the line
    gone = archive_hudi_timeline(dest, keep_instants=1)
    assert gone == instants[:-1]  # everything below ci EXCEPT the newest? no:
    # bound = min(newest completed, ci) = newest completed (ci is newer)
    la, _ch = _archive_boundary(dest)
    assert la == instants[-2]
    # archived deltacommits still fold: snapshot exact
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp
    # incremental from an archived instant stays exact
    assert {
        (r["k"], r["v"])
        for r in read_hudi_incremental(spark, dest, begin=instants[0]).collect()
    } == {(j, f"w{j}") for j in range(1, 6)}
    # complete the compaction; reads unchanged
    assert compact_hudi(spark, dest) == ci
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp

    # a clean's horizon survives its own archival
    t.merge(spark.createDataFrame([(2, "x2")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    cl = clean_hudi(dest, retain_commits=1)
    assert cl is not None
    h = _clean_horizon(dest)
    assert h is not None
    # the clean is the newest instant, so it archives only once a newer
    # commit passes it (the bound is the newest kept COMPLETED instant)
    t.merge(spark.createDataFrame([(3, "x3")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    gone2 = archive_hudi_timeline(dest, keep_instants=1)
    assert cl in gone2  # the clean action itself archived
    assert _clean_horizon(dest) == h  # ...but its gate survives
    with pytest.raises(HudiProtocolError, match="cleaner horizon"):
        read_hudi(spark, dest, as_of=instants[0]).collect()
    # boundary is monotonic across runs
    la2, ch2 = _archive_boundary(dest)
    assert la2 >= la and ch2 == h
    exp2 = (exp - {(2, "w2"), (3, "w3")}) | {(2, "x2"), (3, "x3")}
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp2


def test_concurrent_hudi_writer_detected(spark, tmp_path):
    """Hudi instant markers publish put-if-absent: a foreign writer
    claiming the same instant is DETECTED (HudiProtocolError — Hudi's
    multi-writer story is a lock provider, and the loser's files are
    instant-stamped so rebase would mean rewriting them), never
    clobbered; a re-run lands at a fresh instant and the snapshot is
    exact."""
    import json as _json

    import pyspark.sql.functions as F

    import predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export as HE
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "hudi")
    HE.export_hudi(t, dest)
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))

    orig = HE._publish_instant
    state = {"raced": False}

    def racing(hdir, name, body):
        if not state["raced"]:
            state["raced"] = True
            with open(os.path.join(hdir, name), "w") as f:
                _json.dump({"partitionToWriteStats": {},
                            "engineInfo": "foreign"}, f)
        return orig(hdir, name, body)

    HE._publish_instant = racing
    try:
        with pytest.raises(HudiProtocolError, match="concurrent Hudi"):
            HE.export_hudi(t, dest)
    finally:
        HE._publish_instant = orig
    # the foreign marker was never clobbered
    # ...and a re-run publishes at a FRESH instant, snapshot exact
    i2 = HE.export_hudi(t, dest)
    assert i2 is not None
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, f"v{i}") for i in range(10) if i != 1} | {(1, "V1")}


def test_savepoint_and_restore(spark, tmp_path):
    """savepoint_hudi pins an instant's slices against cleaning (and
    keeps it readable below the clean horizon); restore_hudi rolls the
    table back to the savepoint DESTRUCTIVELY (Hudi's semantics):
    newer timeline actions and the files they wrote are deleted, the
    MDT is dropped, and the exporter republishes cleanly after."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        archive_hudi_timeline,
        clean_hudi,
        export_hudi,
        restore_hudi,
        savepoint_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "hudi")
    i0 = export_hudi(t, dest)
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    i1 = export_hudi(t, dest)
    exp_i1 = {(i, f"v{i}") for i in range(10) if i != 1} | {(1, "V1")}

    # restore without a savepoint refuses
    with pytest.raises(HudiProtocolError, match="not savepointed"):
        restore_hudi(dest, i1)
    assert savepoint_hudi(dest, i1) == i1
    savepoint_hudi(dest, i1)  # idempotent
    with pytest.raises(HudiProtocolError, match="not a completed"):
        savepoint_hudi(dest, "99999999999999")

    t.merge(spark.createDataFrame([(2, "W2")], "k bigint, v string"))
    i2 = export_hudi(t, dest)
    t.merge(spark.createDataFrame([(3, "X3")], "k bigint, v string"))
    i3 = export_hudi(t, dest)
    assert i3 > i2 > i1 > i0

    # clean with retain 1: i1's slices are PROTECTED by the savepoint
    cl = clean_hudi(dest, retain_commits=1)
    assert cl is not None
    # ...and the savepointed instant stays READABLE below the horizon
    assert {
        (r["k"], r["v"]) for r in read_hudi(spark, dest, as_of=i1).collect()
    } == exp_i1
    # an un-savepointed below-horizon instant still gates
    with pytest.raises(HudiProtocolError, match="cleaner horizon"):
        read_hudi(spark, dest, as_of=i2).collect()

    # archival never crosses the savepoint: with keep_instants=1 it
    # would otherwise archive everything below i3 — only i0 (below the
    # savepoint) may move
    assert archive_hudi_timeline(dest, keep_instants=1) == [i0]

    # RESTORE to the savepoint: newer instants + their files are gone
    gone = restore_hudi(dest, i1)
    assert gone  # i2/i3 wrote per-bucket rewrites
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_i1
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import _INSTANT_RE

    hdir = os.path.join(dest, ".hoodie")
    remaining = sorted(
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    )
    assert max(remaining) == i1
    # re-running the restore converges (idempotent no-op)
    assert restore_hudi(dest, i1) == []
    # the exporter republishes cleanly against the restored state
    t.merge(spark.createDataFrame([(4, "Y4")], "k bigint, v string"))
    i4 = export_hudi(t, dest)
    assert i4 > i1
    got2 = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got2 == {
        (i, f"v{i}") for i in range(10) if i not in (1, 2, 3, 4)
    } | {(1, "V1"), (2, "W2"), (3, "X3"), (4, "Y4")}


def test_clean_never_wedges_pending_compaction(spark, tmp_path):
    """A clean landing between schedule and completion caps its
    horizon at the pending instant (real Hudi's rule): the plan stays
    completable — an uncapped earliestCommitToRetain would make the
    completion's as_of fold gate forever."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        compact_hudi,
        export_hudi,
        schedule_compaction,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    ci = schedule_compaction(dest)
    assert ci is not None
    # more commits land, then an aggressive clean
    for j in (2, 3):
        t.merge(spark.createDataFrame([(j, f"w{j}")], "k bigint, v string"))
        export_hudi(t, dest, table_type="MERGE_ON_READ")
    clean_hudi(dest, retain_commits=1)  # horizon would pass ci uncapped
    # the plan still completes at its instant, snapshot exact
    assert compact_hudi(spark, dest) == ci
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == {(i, f"v{i}") for i in range(10) if i not in (1, 2, 3)} | {
        (1, "V1"), (2, "w2"), (3, "w3")}


def test_rollback_reclaims_crashed_writer_debris(spark, tmp_path):
    """rollback_hudi: a crashed writer's marker-less files are
    invisible but occupy storage — rollback deletes instant-stamped
    base files and all-target log files, appends the spec's ROLLBACK
    COMMAND to mixed log files, cancels the instant's state files, and
    lands a .rollback action; a COMPLETED target refuses."""
    import shutil as _sh

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources import (
        hudi_log as HL,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        export_hudi,
        rollback_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    exp = {(i, f"v{i}") for i in range(10) if i != 1} | {(1, "V1")}

    # simulate a CRASHED writer at the next instant: a marker-less base
    # file, an all-debris log file, and debris blocks appended to a
    # COMMITTED chain file
    fail = f"{int(i2) + 7:014d}"
    import glob as _glob

    a_base = sorted(_glob.glob(os.path.join(dest, "b0000_*.parquet")))[0]
    debris_base = os.path.join(dest, f"b0000_9-9-9_{fail}.parquet")
    _sh.copyfile(a_base, debris_base)
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "k", "type": ["null", "long"]},
        {"name": "v", "type": ["null", "string"]},
    ]}
    debris_log = os.path.join(dest, HL.log_file_name("b0001", i1, 9, "9-9-9"))
    HL.append_avro_block(debris_log, fail, schema, [{"k": 999, "v": "X"}])
    mixed = sorted(f for f in os.listdir(dest) if ".log." in f
                   and "9-9-9" not in f)[0]
    HL.append_avro_block(os.path.join(dest, mixed), fail, schema,
                         [{"k": 998, "v": "Y"}])
    # debris is invisible either way (snapshot isolation)
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp

    with pytest.raises(HudiProtocolError, match="COMPLETED"):
        rollback_hudi(dest, i2)
    out = rollback_hudi(dest, fail)
    assert not os.path.exists(debris_base)
    assert not os.path.exists(debris_log)
    assert mixed in "".join(out["commands"])  # command appended, file kept
    assert os.path.exists(os.path.join(dest, mixed))
    assert os.path.exists(
        os.path.join(dest, ".hoodie", f"{out['instant']}.rollback")
    )
    # reads unchanged; the command block is honored silently
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp
    # rollback is idempotent on a clean table
    out2 = rollback_hudi(dest, fail)
    assert out2["deleted"] == [] and out2["commands"] == []


def test_publish_instant_unique_tmp(tmp_path):
    """_publish_instant stages to a per-invocation UNIQUE temp name:
    two writers racing on one instant can never clobber each other's
    staged bytes — the loser raises HudiProtocolError (never a
    FileNotFoundError from a shared tmp), the winner's published body
    is intact, and no tmp debris remains."""
    import json as _json

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        _publish_instant,
    )

    hdir = str(tmp_path / ".hoodie")
    os.makedirs(hdir)
    name = "00000000000001.commit"
    _publish_instant(hdir, name, {"writer": "A"})
    with pytest.raises(HudiProtocolError, match="concurrent Hudi"):
        _publish_instant(hdir, name, {"writer": "B"})
    with open(os.path.join(hdir, name)) as f:
        assert _json.load(f) == {"writer": "A"}  # winner's body intact
    assert [n for n in os.listdir(hdir) if n.endswith(".tmp")] == []


def test_restore_preserves_clean_horizon(spark, tmp_path):
    """restore_hudi deletes timeline actions above the savepoint —
    including completed CLEANs whose physically-removed files cannot be
    resurrected. Their earliestCommitToRetain gate must SURVIVE the
    restore (re-emitted at the savepoint instant), or as_of reads
    before the horizon silently serve a snapshot missing the cleaned
    slices instead of raising."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _clean_horizon,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        clean_hudi,
        export_hudi,
        restore_hudi,
        savepoint_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k bigint, v string"
    ))
    dest = str(tmp_path / "hudi")
    i0 = export_hudi(t, dest)
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    i1 = export_hudi(t, dest)
    savepoint_hudi(dest, i1)
    t.merge(spark.createDataFrame([(2, "W2")], "k bigint, v string"))
    export_hudi(t, dest)
    t.merge(spark.createDataFrame([(3, "X3")], "k bigint, v string"))
    export_hudi(t, dest)

    # clean above the savepoint: i0's superseded slices are REMOVED
    assert clean_hudi(dest, retain_commits=1) is not None
    h_before = _clean_horizon(dest)
    assert h_before is not None and h_before > i1

    restore_hudi(dest, i1)
    # the gate survived the destructive restore
    assert _clean_horizon(dest) == h_before
    with pytest.raises(HudiProtocolError, match="cleaner horizon"):
        read_hudi(spark, dest, as_of=i0).collect()
    # the savepointed snapshot itself stays exact
    exp_i1 = {(i, f"v{i}") for i in range(10) if i != 1} | {(1, "V1")}
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_i1
    # re-running the restore keeps converging (marker merge, no growth)
    assert restore_hudi(dest, i1) == []
    assert _clean_horizon(dest) == h_before


def test_async_clustering_lifecycle(spark, tmp_path):
    """Pending-clustering replacecommit states (mirror of the async
    compaction lifecycle): schedule_clustering writes
    replacecommit.requested; writers touching planned groups REJECT by
    default or land under clustering_updates='allow', in which case
    complete_clustering detects the conflict and ABORTS naming the
    write; rollback_hudi cancels a pending plan; a clean completion
    lands the replacecommit that retires the planned groups."""
    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _pending_clusterings,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        cluster_hudi,
        complete_clustering,
        export_hudi,
        rollback_hudi,
        schedule_clustering,
        schedule_compaction,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k bigint, v string"
    ))
    dest = str(tmp_path / "hudi")
    export_hudi(t, dest)
    exp = {(i, f"v{i}") for i in range(20)}

    assert complete_clustering(spark, dest) is None  # nothing pending
    inst = schedule_clustering(dest, sort_by=["k"], target_file_groups=2)
    assert inst is not None
    assert list(_pending_clusterings(dest)) == [inst]
    # one plan at a time; inline clustering refuses while pending
    with pytest.raises(HudiProtocolError, match="already pending"):
        schedule_clustering(dest, sort_by=["k"])
    with pytest.raises(HudiProtocolError, match="pending clustering"):
        cluster_hudi(spark, dest, sort_by=["k"])

    # WRITER conflict rule: reject (default) refuses naming the plan
    t.merge(spark.createDataFrame([(1, "V1")], "k bigint, v string"))
    with pytest.raises(HudiProtocolError, match="pending clustering"):
        export_hudi(t, dest)
    # reads unaffected while pending; the rejected write never landed
    assert {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()} == exp

    # ALLOW strategy: the write lands...
    wi = export_hudi(t, dest, clustering_updates="allow")
    exp_upd = {(i, f"v{i}") for i in range(20) if i != 1} | {(1, "V1")}
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_upd
    # ...and the COMPLETION aborts on the conflict, naming the write
    with pytest.raises(HudiProtocolError, match=wi):
        complete_clustering(spark, dest)
    # cancel the plan: requested/inflight removed, table intact
    rollback_hudi(dest, inst)
    assert _pending_clusterings(dest) == {}
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_upd

    # clean re-schedule + completion: replacecommit retires the groups
    inst2 = schedule_clustering(dest, sort_by=["k"],
                                target_file_groups=2)
    # compaction never schedules over groups a pending plan owns
    assert schedule_compaction.__name__  # (MOR-only; gate is in code)
    assert complete_clustering(spark, dest) == inst2
    assert _pending_clusterings(dest) == {}
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_upd
    # clustered groups are range-disjoint new fileIds
    files = {os.path.basename(p) for p in
             read_hudi(spark, dest).inputFiles()}
    assert all(f.startswith("c0") for f in files)
    # time travel before the clustering still serves the old layout
    before = {(r["k"], r["v"])
              for r in read_hudi(spark, dest, as_of=wi).collect()}
    assert before == exp_upd
    # a crashed completion is re-runnable: drop the replacecommit,
    # keep requested+inflight, re-complete
    hdir = os.path.join(dest, ".hoodie")
    os.remove(os.path.join(hdir, f"{inst2}.replacecommit"))
    assert list(_pending_clusterings(dest)) == [inst2]
    assert complete_clustering(spark, dest) == inst2
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got == exp_upd


def test_small_file_clustering_strategy(spark, tmp_path):
    """schedule_clustering(max_group_bytes=) plans only file groups at
    or below the size threshold (real Hudi's small-file strategy):
    unplanned groups stay freely writable while the plan is pending
    (no reject, no completion conflict), planned groups keep the
    update-conflict rule, and the completion retires ONLY the planned
    groups."""
    import glob as _glob

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _pending_clusterings,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        complete_clustering,
        export_hudi,
        schedule_clustering,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(
        [(i, "s") for i in range(40)], "k bigint, v string"
    ))
    dest = str(tmp_path / "hudi")
    export_hudi(t, dest)

    # learn the bucket of each key from the exported base files
    def keys_of(fid_prefix):
        out = set()
        for p in _glob.glob(os.path.join(dest, f"{fid_prefix}_*.parquet")):
            out |= {r["k"] for r in spark.read.parquet(p).collect()}
        return out

    k0, k1 = keys_of("b0000"), keys_of("b0001")
    assert k0 and k1 and not (k0 & k1)
    # inflate bucket 1: its keys get long values -> big group
    t.merge(spark.createDataFrame(
        [(i, "x" * 5000) for i in sorted(k1)], "k bigint, v string"
    ))
    export_hudi(t, dest)
    # the plan sizes the CURRENT slice (newest base), not all vintages
    sizes = {
        fid: max(os.path.getsize(p) for p in
                 _glob.glob(os.path.join(dest, f"{fid}_*.parquet")))
        for fid in ("b0000", "b0001")
    }
    assert sizes["b0001"] > sizes["b0000"]
    threshold = (sizes["b0000"] + sizes["b0001"]) // 2

    inst = schedule_clustering(dest, sort_by=["k"],
                               target_file_groups=1,
                               max_group_bytes=threshold)
    plan = _pending_clusterings(dest)[inst]
    assert [op["fileId"] for op in plan["operations"]] == ["b0000"]

    # a mid-pending write to the UNPLANNED big group proceeds even
    # under the default reject strategy...
    some_k1 = sorted(k1)[0]
    t.merge(spark.createDataFrame([(some_k1, "updated")],
                                  "k bigint, v string"))
    export_hudi(t, dest)
    # ...while the planned group keeps the conflict rule
    some_k0 = sorted(k0)[0]
    t.merge(spark.createDataFrame([(some_k0, "blocked")],
                                  "k bigint, v string"))
    with pytest.raises(HudiProtocolError, match="pending clustering"):
        export_hudi(t, dest)

    # the completion succeeds: the landed write touched no planned group
    assert complete_clustering(spark, dest) == inst
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    exp = (
        {(i, "s") for i in sorted(k0)}
        | {(i, "x" * 5000) for i in sorted(k1) if i != some_k1}
        | {(some_k1, "updated")}
    )
    assert got == exp
    # only the planned group was retired into a clustered fileId
    live = {os.path.basename(p) for p in
            read_hudi(spark, dest).inputFiles()}
    assert any(f.startswith("c0") for f in live)
    assert any(f.startswith("b0001_") for f in live)
    assert not any(f.startswith("b0000_") for f in live)


def _next_instant(dest):
    import re as _re

    hdir = os.path.join(dest, ".hoodie")
    taken = [m.group(1) for m in
             (_re.match(r"^(\d{14})\.", n) for n in os.listdir(hdir))
             if m]
    return f"{int(max(taken)) + 1:014d}"


def test_clustering_update_conflict_is_partition_aware(spark, tmp_path):
    """Group identity is (partition, fileId): bucket fileIds repeat
    across partitions, so a pending plan naming b0001 in seg=A must
    NOT reject a MOR write whose diff only logs b0001 in seg=B — and
    the completion must NOT abort on a completed write whose stats
    only touched seg=B. A diff actually landing in seg=A still
    rejects/aborts."""
    import json as _json

    import pyspark.sql.functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import (
        HudiProtocolError,
        _pending_clusterings,
        read_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        complete_clustering,
        export_hudi,
        rollback_hudi,
    )
    from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
        SnapshotTable,
    )

    # bucket per key, so we can pick bucket-1 keys in each partition
    buckets = {
        r["k"]: r["b"]
        for r in spark.range(40).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(2))
            .cast("int").alias("b"),
        ).collect()
    }
    b1 = sorted(k for k, b in buckets.items() if b == 1)
    assert len(b1) >= 4
    # bucket-1 keys alternate partitions; everything else goes to A
    seg = {k: ("A" if i % 2 == 0 else "B") for i, k in enumerate(b1)}
    rows = [(k, seg.get(k, "A"), float(k)) for k in range(40)]
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), "k bigint, seg string, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t.append(spark.createDataFrame(rows, "k bigint, seg string, v double"))
    dest = str(tmp_path / "hudi")
    export_hudi(t, dest, partition_by=["seg"],
                table_type="MERGE_ON_READ")

    # pending plan naming ONLY (seg=A, b0001)
    inst = _next_instant(dest)
    plan = {
        "operations": [{"partitionPath": "seg=A", "fileId": "b0001"}],
        "strategy": {"sortColumns": ["k"], "targetFileGroups": 1},
        "version": 1,
    }
    with open(os.path.join(dest, ".hoodie",
                           f"{inst}.replacecommit.requested"), "w") as f:
        _json.dump(plan, f)
    assert list(_pending_clusterings(dest)) == [inst]

    # phase 1 — a diff actually IN seg=A still rejects; under ALLOW it
    # lands and the completion aborts naming the write
    ka = next(k for k in b1 if seg[k] == "A")
    assert buckets[ka] == 1
    t.merge(spark.createDataFrame([(ka, "A", -2.0)],
                                  "k bigint, seg string, v double"))
    with pytest.raises(HudiProtocolError, match="pending clustering"):
        export_hudi(t, dest, partition_by=["seg"],
                    table_type="MERGE_ON_READ")
    wi2 = export_hudi(t, dest, partition_by=["seg"],
                      table_type="MERGE_ON_READ",
                      clustering_updates="allow")
    with pytest.raises(HudiProtocolError, match=wi2):
        complete_clustering(spark, dest)
    rollback_hudi(dest, inst)

    # phase 2 — fresh plan on (seg=A, b0001); a bucket-1 update
    # confined to seg=B logs only (B, b0001): no reject, and the
    # completion proceeds (its conflict scan is partition-scoped)
    inst2 = _next_instant(dest)
    with open(os.path.join(dest, ".hoodie",
                           f"{inst2}.replacecommit.requested"), "w") as f:
        _json.dump(plan, f)
    kb = next(k for k in b1 if seg[k] == "B")
    t.merge(spark.createDataFrame([(kb, "B", -1.0)],
                                  "k bigint, seg string, v double"))
    export_hudi(t, dest, partition_by=["seg"],
                table_type="MERGE_ON_READ")  # must NOT reject
    got = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert (kb, -1.0) in got and (ka, -2.0) in got
    assert complete_clustering(spark, dest) == inst2
    assert _pending_clusterings(dest) == {}
    got2 = {(r["k"], r["v"]) for r in read_hudi(spark, dest).collect()}
    assert got2 == got


# ------------------------------------------------- delete_from_hudi


def _mk_mor(spark, tmp_path, n=40, **export_kw):
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import export_hudi as _ex

    root = str(tmp_path / "dtbl")
    dest = str(tmp_path / "dhudi")
    t = SnapshotTable.create(
        spark, root, "k bigint, v double", bucket_key=["k"],
        num_buckets=2,
    )
    t.append(spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ))
    inst1 = _ex(t, dest, table_type="MERGE_ON_READ", **export_kw)
    return t, dest, inst1


def test_delete_from_hudi_basic_and_stacked(spark, tmp_path):
    """Tombstone DELETE: snapshot drops the keys, time travel intact,
    a stacked delete never re-counts dead rows, no-op claims no
    instant, and no base file is touched."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import delete_from_hudi

    t, dest, inst1 = _mk_mor(spark, tmp_path)
    bases = sorted(f for f in os.listdir(dest) if f.endswith(".parquet"))
    out = delete_from_hudi(spark, dest, "k % 4 = 0")
    assert out["num_deleted"] == 10 and out["groups"] == 2
    got = {r["k"] for r in read_hudi(spark, dest).collect()}
    assert got == {k for k in range(40) if k % 4}
    assert read_hudi(spark, dest, as_of=inst1).count() == 40
    out2 = delete_from_hudi(spark, dest, "k % 8 = 0 OR k = 1")
    assert out2["num_deleted"] == 1  # %8 rows were already dead
    out3 = delete_from_hudi(spark, dest, "k > 999")
    assert out3 == {"instant": None, "num_deleted": 0, "groups": 0}
    assert sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    ) == bases
    # the commit lifecycle markers all landed
    hdir = os.path.join(dest, ".hoodie")
    for suffix in ("deltacommit.requested", "deltacommit.inflight",
                   "deltacommit"):
        assert os.path.exists(
            os.path.join(hdir, f"{out['instant']}.{suffix}"))


def test_delete_from_hudi_cow_refuses(spark, tmp_path):
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import HudiProtocolError
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import delete_from_hudi

    root = str(tmp_path / "ctbl")
    dest = str(tmp_path / "chudi")
    t = SnapshotTable.create(
        spark, root, "k bigint, v double", bucket_key=["k"],
        num_buckets=2,
    )
    t.append(spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")))
    export_hudi(t, dest)  # COW
    with pytest.raises(HudiProtocolError, match="COW|COPY_ON_WRITE"):
        delete_from_hudi(spark, dest, "k = 1")


def test_delete_from_hudi_event_time_ordering(spark, tmp_path):
    """EVENT_TIME tables: each tombstone carries the doomed row's OWN
    precombine value as its orderingVal — the record shape the MOR
    event-time merge can order (a delete without one raises at read;
    the resurrect/stay-dead semantics of valued tombstones are pinned
    in test_hudi_mor.py)."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources import hudi_log as HL
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import delete_from_hudi

    root = str(tmp_path / "etbl")
    dest = str(tmp_path / "ehudi")
    t = SnapshotTable.create(
        spark, root, "k bigint, ts bigint, v double", bucket_key=["k"],
        num_buckets=2,
    )
    t.append(spark.range(10).select(
        F.col("id").alias("k"), (F.lit(100) + F.col("id")).alias("ts"),
        (F.col("id") * 1.0).alias("v")
    ))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    # declare event-time ordering like a foreign writer's table
    with open(os.path.join(dest, ".hoodie", "hoodie.properties"),
              "a") as f:
        f.write("hoodie.table.precombine.field=ts\n"
                "hoodie.table.payload.class=org.apache.hudi.common."
                "model.DefaultHoodieRecordPayload\n")
    out = delete_from_hudi(spark, dest, "k IN (3, 4)")
    assert out["num_deleted"] == 2
    assert {r["k"] for r in read_hudi(spark, dest).collect()} == \
        set(range(10)) - {3, 4}
    # the tombstones carry the doomed rows' ts values (103, 104)
    ordering = {}
    for fn in os.listdir(dest):
        if ".log." not in fn:
            continue
        for blk in HL.read_log_blocks(os.path.join(dest, fn)):
            if blk.get("delete_content"):
                for r in HL.decode_delete_records(
                        blk["delete_content"]):
                    ordering[r["recordKey"]] = r.get("orderingVal")
    assert ordering == {"3": 103, "4": 104}
    # a matched row with a NULL precombine value refuses BEFORE any
    # marker or block lands (its tombstone would be unorderable and
    # poison every later read of the group)
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import HudiProtocolError

    t.merge(spark.createDataFrame(
        [(77, None, -7.0)], "k bigint, ts bigint, v double"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    hdir = os.path.join(dest, ".hoodie")
    timeline_before = sorted(os.listdir(hdir))
    logs_before = sorted(f for f in os.listdir(dest) if ".log." in f)
    with pytest.raises(HudiProtocolError, match="NULL precombine"):
        delete_from_hudi(spark, dest, "k = 77")
    assert sorted(os.listdir(hdir)) == timeline_before
    assert sorted(
        f for f in os.listdir(dest) if ".log." in f) == logs_before


def test_delete_from_hudi_conflicts(spark, tmp_path):
    """A foreign writer's PENDING instant on the timeline: the delete
    allocates PAST it (never folds under a stranger's claim); a true
    same-instant race refuses via the put-if-absent claim BEFORE any
    block lands; a pending clustering plan covering a touched group
    refuses."""
    import json

    from predicting_hospital_readmission_using_mimic_database_spark.sources import hudi_export as HE
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import HudiProtocolError
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import delete_from_hudi

    t, dest, _inst1 = _mk_mor(spark, tmp_path)
    hdir = os.path.join(dest, ".hoodie")
    all_inst = sorted(
        int(n.split(".")[0]) for n in os.listdir(hdir)
        if n.split(".")[0].isdigit()
    )
    nxt = str(all_inst[-1] + 1).zfill(14)
    with open(os.path.join(hdir, f"{nxt}.deltacommit.requested"),
              "w") as f:
        json.dump({}, f)
    out = delete_from_hudi(spark, dest, "k = 1")
    assert out["num_deleted"] == 1 and int(out["instant"]) > int(nxt)
    os.remove(os.path.join(hdir, f"{nxt}.deltacommit.requested"))

    # a TRUE same-instant race: the requested-claim collision refuses
    # before any tombstone lands
    logs_before = sorted(f for f in os.listdir(dest) if ".log." in f)
    real = HE._publish_instant
    claimed = {}

    def claim_first(hdir_, name, body):
        if name.endswith(".requested") and not claimed:
            claimed[name] = True
            real(hdir_, name, {"foreign": True})  # the rival wins
        return real(hdir_, name, body)

    HE._publish_instant = claim_first
    try:
        with pytest.raises(HudiProtocolError, match="concurrent"):
            delete_from_hudi(spark, dest, "k = 2")
    finally:
        HE._publish_instant = real
    assert sorted(f for f in os.listdir(dest) if ".log." in f) \
        == logs_before

    # a pending clustering plan covering the touched groups refuses
    pi = HE.schedule_clustering(dest, sort_by=["k"])
    assert pi is not None
    with pytest.raises(HudiProtocolError, match="pending clustering"):
        delete_from_hudi(spark, dest, "k = 3")


def test_delete_from_hudi_routes_into_pending_compaction(spark, tmp_path):
    """A delete landing while a compaction plan is PENDING routes its
    tombstones to the plan-attached log chain — after completion the
    deleted keys stay gone."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        delete_from_hudi,
        schedule_compaction,
    )

    t, dest, _inst1 = _mk_mor(spark, tmp_path)
    # land a log so the groups have something to compact
    t.merge(spark.createDataFrame([(1, -1.0)], "k bigint, v double"))
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    pi = schedule_compaction(dest)
    assert pi is not None
    # k=1 lives in the group the plan covers (its merge log is what
    # made the group compactable)
    out = delete_from_hudi(spark, dest, "k = 1")
    assert out["num_deleted"] == 1
    # the tombstone chain is attached to the PLAN instant (the
    # log-writer routing rule), not the group's base instant
    assert any(f"_{pi}.log." in f for f in os.listdir(dest)
               if f.startswith(".b")), sorted(os.listdir(dest))
    assert {r["k"] for r in read_hudi(spark, dest).collect()} == \
        set(range(40)) - {1}
    compact_hudi(spark, dest)
    assert {r["k"] for r in read_hudi(spark, dest).collect()} == \
        set(range(40)) - {1}


def test_update_hudi_basic_and_stacked(spark, tmp_path):
    """UPSERT-block UPDATE: SET sees the pre-update row, stacked
    updates read each other's output, time travel intact, no base
    file rewritten, no-op claims no instant."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import update_hudi

    t, dest, inst1 = _mk_mor(spark, tmp_path)
    bases = sorted(f for f in os.listdir(dest) if f.endswith(".parquet"))
    out = update_hudi(spark, dest, "k < 4", {"v": "v + 100"})
    assert out["num_updated"] == 4
    got = {r["k"]: r["v"] for r in read_hudi(spark, dest).collect()}
    assert got[0] == 100.0 and got[3] == 103.0 and got[10] == 10.0
    out2 = update_hudi(spark, dest, "v >= 100", {"v": "-1"})
    assert out2["num_updated"] == 4
    got2 = {r["k"]: r["v"] for r in read_hudi(spark, dest).collect()}
    assert got2[0] == -1.0 and got2[10] == 10.0
    assert read_hudi(spark, dest, as_of=inst1).count() == 40
    assert sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")) == bases
    out3 = update_hudi(spark, dest, "k > 999", {"v": "0"})
    assert out3 == {"instant": None, "num_updated": 0, "groups": 0}


def test_update_hudi_refusals(spark, tmp_path):
    """Record-key / partition-field SET refuses; COW refuses; an
    event-time update lowering (or nulling) the precombine refuses
    before any marker lands."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi import HudiProtocolError
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import update_hudi

    t, dest, _inst1 = _mk_mor(spark, tmp_path, n=10)
    with pytest.raises(HudiProtocolError, match="record-key"):
        update_hudi(spark, dest, "k = 1", {"k": "k + 1"})
    with pytest.raises(ValueError, match="not in the table schema"):
        update_hudi(spark, dest, "k = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="at least one"):
        update_hudi(spark, dest, "k = 1", {})

    # event-time: lowering the precombine refuses, raising it works
    root2 = str(tmp_path / "etbl")
    dest2 = str(tmp_path / "ehudi")
    t2 = SnapshotTable.create(
        spark, root2, "k bigint, ts bigint, v double",
        bucket_key=["k"], num_buckets=2,
    )
    t2.append(spark.range(10).select(
        F.col("id").alias("k"), (F.lit(100) + F.col("id")).alias("ts"),
        (F.col("id") * 1.0).alias("v")
    ))
    export_hudi(t2, dest2, table_type="MERGE_ON_READ")
    with open(os.path.join(dest2, ".hoodie", "hoodie.properties"),
              "a") as f:
        f.write("hoodie.table.precombine.field=ts\n"
                "hoodie.table.payload.class=org.apache.hudi.common."
                "model.DefaultHoodieRecordPayload\n")
    hdir = os.path.join(dest2, ".hoodie")
    timeline_before = sorted(os.listdir(hdir))
    with pytest.raises(HudiProtocolError, match="lose its own merge"):
        update_hudi(spark, dest2, "k = 3", {"ts": "ts - 50"})
    with pytest.raises(HudiProtocolError, match="lose its own merge"):
        update_hudi(spark, dest2, "k = 3",
                    {"ts": "CAST(NULL AS BIGINT)"})
    assert sorted(os.listdir(hdir)) == timeline_before
    out = update_hudi(spark, dest2, "k = 3",
                      {"ts": "ts + 10", "v": "-3"})
    assert out["num_updated"] == 1
    got = {r["k"]: (r["ts"], r["v"])
           for r in read_hudi(spark, dest2).collect()}
    assert got[3] == (113, -3.0)


def test_update_then_compact_preserves_values(spark, tmp_path):
    """Updated values survive compaction (the upsert block folds into
    the new base)."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.hudi_export import (
        compact_hudi,
        schedule_compaction,
        update_hudi,
    )

    t, dest, _inst1 = _mk_mor(spark, tmp_path, n=20)
    update_hudi(spark, dest, "k % 2 = 0", {"v": "v + 1000"})
    assert schedule_compaction(dest) is not None
    compact_hudi(spark, dest)
    got = {r["k"]: r["v"] for r in read_hudi(spark, dest).collect()}
    assert got[0] == 1000.0 and got[2] == 1002.0 and got[1] == 1.0
