"""session.pandas_kernel in both regimes: every engine kernel gives the
same output in Python workers (``autoBroadcastJoinThreshold`` -1, the
at-scale path) and on the driver (a bound of 1 GB), and below the bound
no executed plan holds a pandas UDF node. The engine's small fixtures
take the driver path by default, so these tests are what keeps the
executor path covered."""

import re
from contextlib import contextmanager

import pandas as pd
import pyspark.sql.functions as F
import pytest

from predicting_hospital_readmission_using_mimic_database_spark.operators import similarity as SI
from predicting_hospital_readmission_using_mimic_database_spark.session import (
    local_frame,
    pandas_kernel,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources import (
    delta,
    delta_dml,
    hudi,
    hudi_export,
    iceberg,
    iceberg_dml,
)
from predicting_hospital_readmission_using_mimic_database_spark.sources.table import SnapshotTable

BOUND = "spark.sql.autoBroadcastJoinThreshold"
REGIMES = {"executors": "-1", "driver": str(1 << 30)}
_UDF_NODE = re.compile(r"\b(?:MapInPandas|FlatMapGroupsInPandas)\b")
SCHEMA = "k bigint, n int, v double, w string"


@contextmanager
def regime(spark, name):
    """Force the regime for the block; yields a list that, on exit, holds
    the pandas UDF nodes of every plan the block executed."""
    sq = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id():
        n = int(sq.executionsCount())
        return sq.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    bus.waitUntilEmpty()
    start = last_id()
    before = spark.conf.get(BOUND)
    spark.conf.set(BOUND, REGIMES[name])
    nodes = []
    try:
        yield nodes
    finally:
        spark.conf.set(BOUND, before)
    bus.waitUntilEmpty()
    for i in range(int(sq.executionsCount()) - 1, -1, -1):
        e = sq.executionsList(i, 1).apply(0)
        if e.executionId() <= start:
            break
        nodes += _UDF_NODE.findall(e.physicalPlanDescription())


def both_regimes(spark, run, kernels=True):
    """``run(regime_name)`` under each regime: the two results must be
    equal, and the executor run must have planned a pandas UDF node
    (unless the op runs no ``kernels``) and the driver run none."""
    out = {}
    for name in REGIMES:
        with regime(spark, name) as nodes:
            out[name] = run(name)
        assert bool(nodes) == (kernels and name == "executors"), (name, nodes)
    assert out["driver"] == out["executors"]
    return out["driver"]


def test_helper_matches_workers_on_batches_groups_and_nulls(spark):
    """The driver path hands the kernel the executor path's batches and
    groups (NULL group keys included) and converts NULL-bearing integer
    columns back the way a worker does."""
    df = spark.range(0, 30, 1, 3).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("v"),
    )

    def per_batch(it):
        for pdf in it:
            yield pd.DataFrame({"k": pdf["k"], "v": pdf["v"], "n": len(pdf)})

    def per_group(pdf):
        return pd.DataFrame({
            "g": [pdf["g"].iloc[0]], "n": [len(pdf)],
            "dtype": [str(pdf["v"].dtype)], "v": [pdf["v"].max()],
        })

    def run(_name):
        a = pandas_kernel(df, per_batch, "k long, v long, n long", est_bytes=1)
        b = pandas_kernel(
            df, per_group, "g long, n long, dtype string, v long",
            group_by=["g"], est_bytes=1,
        )
        return sorted(a.collect()), sorted(b.collect(), key=str)

    batches, groups = both_regimes(spark, run)
    assert [r["v"] for r in batches if r["k"] % 5 == 0] == [None] * 6
    assert len(groups) == 4  # g in {0, 1, 2, NULL}
    spec = [(1, None, 2)]
    with regime(spark, "driver"):
        got = pandas_kernel(
            local_frame(spark, spec, "k long, g long, v long"), per_batch,
            "k long, v long, n long", est_bytes=1, spec=spec,
        )
        assert got._jdf.queryExecution().optimizedPlan().toString().startswith(
            "LocalRelation"
        )
        assert got.collect()[0].asDict() == {"k": 1, "v": 2, "n": 1}
    # an estimate past the bound, or none, keeps the executor path
    for est in (None, (1 << 30) + 1):
        with regime(spark, "driver") as nodes:
            pandas_kernel(df, per_batch, "k long, v long, n long", est_bytes=est).collect()
        assert nodes


@pytest.mark.parametrize("ids", ["long", "string"])
def test_knn_join_broadcast_both_regimes(spark, ids):
    rows = [(i, [float(i % 7), float(i // 7), float(i % 3)]) for i in range(40)]
    pts = local_frame(spark, rows, "i long, v array<double>").select(
        F.col("i").cast(ids).alias("id"), "v"
    )
    small = pts.filter(F.col("id").cast("long") % 4 == 0)

    def run(_name):
        cross = SI.knn_join_broadcast(pts, small, "id", "v", k=3)
        # the SMOTE shape: one frame on both sides, its own id excluded
        self_ = SI.knn_join_broadcast(small, small, "id", "v", k=2, exclude_self=True)
        return (
            sorted(tuple(r) for r in cross.collect()),
            sorted(tuple(r) for r in self_.collect()),
        )

    cross, self_ = both_regimes(spark, run)
    assert len(cross) == 40 * 3 and len(self_) == 10 * 2
    assert all(a != b for a, b, _d, _r in self_)


def test_ivf_pq_adc_both_regimes(spark):
    """The IVF-PQ shortlist's ADC kernel (seeded fit, so both runs
    train the same codebooks)."""
    import numpy as np

    X = np.random.default_rng(5).normal(size=(300, 16))
    e = local_frame(
        spark, [(i, [float(v) for v in X[i]]) for i in range(300)],
        "vec_id bigint, embedding array<double>",
    )

    def run(_name):
        return [tuple(r) for r in SI.topk_ivf_pq(
            e, "vec_id", "embedding", [float(v) for v in X[7]], k=5,
            n_cells=4, n_probe=2, m_subspaces=4, ksub=8, rerank=40, seed=3,
        ).collect()]

    got = both_regimes(spark, run)
    assert got[0][0] == 7 and len(got) == 5


def _snapshot_table(spark, root, n=60):
    base = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("int").alias("n"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("w"), F.col("id") % 3).alias("w"),
    )
    t = SnapshotTable.create(spark, root, SCHEMA, bucket_key=["k"], num_buckets=2)
    t.append(base)
    return t


def _batches(spark):
    upsert = local_frame(
        spark,
        [(k, 9, -float(k), None) for k in (3, 7, 20, 41)]
        + [(100 + k, None, float(k), "new") for k in range(3)],
        SCHEMA,
    )
    delete = local_frame(
        spark, [(k, None, None, None) for k in (4, 7, 33, 101)], SCHEMA
    )
    return upsert, delete


def _rows(df, drop=()):
    return sorted(
        (tuple(r) for r in df.drop(*drop).collect()),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def test_delta_dml_over_existing_dvs_both_regimes(spark, tmp_path):
    upsert, delete = _batches(spark)

    def run(name):
        root = str(tmp_path / name)
        delta.export_delta_log(_snapshot_table(spark, root))
        out = [delta_dml.delete_from_delta(spark, root, "k % 10 = 1")]
        out.append(delta_dml.merge_delta(spark, root, upsert, on=["k"]))
        out.append(delta_dml.merge_delta(
            spark, root, delete, on=["k"], when_matched="delete", insert=False
        ))
        versions = [o["version"] for o in out]
        feeds = [
            _rows(delta.read_delta_changes(spark, root, v, v), ["_commit_timestamp"])
            for v in versions
        ]
        return [{k: o[k] for k in o if k != "version"} for o in out], \
            _rows(delta.read_delta(spark, root)), feeds

    stats, snap, feeds = both_regimes(spark, run)
    assert stats[0]["num_deleted"] == 6 and stats[2]["num_deleted"] == 4
    # 41 is deleted, then re-inserted by the upsert
    assert {r[0] for r in snap} == (
        set(range(60)) - {1, 11, 21, 31, 51, 4, 7, 33}
    ) | {100, 102}


def test_iceberg_merge_both_regimes(spark, tmp_path):
    upsert, delete = _batches(spark)

    def run(name):
        root = str(tmp_path / name)
        iceberg.export_iceberg(_snapshot_table(spark, root))
        first = iceberg.iceberg_snapshots(root)[-1]["snapshot_id"]
        out = [
            iceberg_dml.merge_iceberg(spark, root, upsert, on=["k"]),
            iceberg_dml.merge_iceberg(
                spark, root, delete, on=["k"], when_matched="delete", insert=False
            ),
        ]
        log = iceberg.read_iceberg_changelog(
            spark, root, first, out[-1]["snapshot_id"]
        )
        return (
            [{k: o[k] for k in o if k != "snapshot_id"} for o in out],
            _rows(iceberg.read_iceberg(spark, root)),
            _rows(log),
        )

    # v2 position deletes: the merge and the changelog run no kernel
    stats, snap, _log = both_regimes(spark, run, kernels=False)
    assert stats[1]["num_deleted"] == 4
    assert {r[0] for r in snap} == (set(range(60)) - {4, 7, 33}) | {100, 102}


def test_iceberg_dv_decode_both_regimes(spark, tmp_path):
    """v3 deletion vectors: the puffin decode in ``read_iceberg`` and in
    the changelog replay."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.iceberg import (
        append_deletion_vectors,
    )

    def run(name):
        root = str(tmp_path / name)
        iceberg.export_iceberg(_snapshot_table(spark, root))
        first = iceberg.iceberg_snapshots(root)[-1]["snapshot_id"]
        files = sorted(
            r[0] for r in iceberg.read_iceberg(spark, root)
            .select(F.input_file_name()).distinct().collect()
        )
        assert len(files) > 1
        append_deletion_vectors(root, {files[0]: [0, 1], files[-1]: [0]})
        log = iceberg.read_iceberg_changelog(spark, root, first, None)
        return _rows(iceberg.read_iceberg(spark, root)), _rows(log)

    snap, log = both_regimes(spark, run)
    assert len(snap) == 60 - 3 and len(log) == 3


def test_hudi_mor_export_and_dml_both_regimes(spark, tmp_path):
    """Upsert and delete exports (Avro data blocks and delete blocks,
    whose NULL payloads decode as NULLs in the integer columns), then
    ``delete_from_hudi`` / ``update_hudi`` log appends; each snapshot
    and change feed must agree."""
    upsert, delete = _batches(spark)

    def run(name):
        t = _snapshot_table(spark, str(tmp_path / name / "src"))
        dest = str(tmp_path / name / "hudi")
        insts = [hudi_export.export_hudi(t, dest, table_type="MERGE_ON_READ")]
        t.merge(upsert)
        insts.append(hudi_export.export_hudi(t, dest, table_type="MERGE_ON_READ"))
        t.delete(F.col("k").isin([4, 7, 33, 101]))
        insts.append(hudi_export.export_hudi(t, dest, table_type="MERGE_ON_READ"))
        dml = [
            hudi_export.delete_from_hudi(spark, dest, "k % 10 = 1"),
            hudi_export.update_hudi(spark, dest, "k < 6", {"v": "v + 1000"}),
        ]
        insts += [d["instant"] for d in dml]
        feeds = [
            _rows(hudi.read_hudi_changes(spark, dest, begin=a, end=b))
            for a, b in zip(insts, insts[1:])
        ]
        snaps = [_rows(hudi.read_hudi(spark, dest))] + [
            _rows(hudi.read_hudi(spark, dest, as_of=i)) for i in insts
        ]
        return [{k: d[k] for k in d if k != "instant"} for d in dml], snaps, feeds

    dml, snaps, feeds = both_regimes(spark, run)
    assert dml[0]["num_deleted"] == 6 and dml[1]["num_updated"] == 4
    assert {r[0] for r in snaps[0]} == (
        set(range(60)) - {1, 11, 21, 31, 41, 51, 4, 7, 33}
    ) | {100, 102}
