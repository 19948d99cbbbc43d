"""Physical-plan assertions: pushdown, pruning, and partition pruning must
survive refactors — the 100 TB posture, structurally enforced."""

import pyspark.sql.functions as F

from predicting_hospital_readmission_using_mimic_database_spark.sources.io import read_table

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = read_table(spark, SF, "customer").filter(F.col("c_acctbal") > 0).select("c_custkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,0.0)" in plan


def test_projection_prunes_read_schema(spark):
    df = read_table(spark, SF, "customer").select("c_custkey", "c_name")
    plan = _plan(df)
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string>" in plan


def test_partition_pruning_on_partitioned_write(tmp_path, spark):
    src = read_table(spark, SF, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "ev_part")
    src.write.mode("overwrite").partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = _plan(df)
    # partition filter prunes directories; no data filter on event_type needed
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == src.filter(F.col("event_type") == "purchase").count()


def test_broadcast_join_for_dim(spark):
    fact = read_table(spark, SF, "orders")
    dim = read_table(spark, SF, "nation")
    j = fact.join(F.broadcast(dim), fact.o_custkey % 25 == dim.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_unpartitioned_window_detector(spark):
    """The PLANS.md detector must flag a genuinely global window and stay
    silent on a partitioned one (regression: the old string-match was
    vacuously 0 on every plan)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from explain_audit import count_unpartitioned_windows
    from pyspark.sql import Window

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    global_w = df.withColumn(
        "r", F.row_number().over(Window.partitionBy().orderBy("id"))
    )
    part_w = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert count_unpartitioned_windows(_plan(global_w)) == (1, 0, 0)
    assert count_unpartitioned_windows(_plan(part_w)) == (0, 0, 0)

    # the two-pass offsets window (__pid order, one row per partition) is
    # classified bounded, not a single-task sink
    from predicting_hospital_readmission_using_mimic_database_spark.operators.relational import global_index

    gi = global_index(df, ["id"])
    unbounded, bounded, _pl = count_unpartitioned_windows(_plan(gi))
    assert unbounded == 0 and bounded >= 1

    # a global window whose input is capped by a preceding limit (the
    # x14 shape: row_number over a TakeOrderedAndProject top-n) is
    # classified post-limit bounded, not a single-task sink
    capped = (
        df.orderBy(F.col("id").desc())
        .limit(10)
        .withColumn(
            "r", F.row_number().over(Window.partitionBy().orderBy("id"))
        )
    )
    assert count_unpartitioned_windows(_plan(capped)) == (0, 0, 1)


def test_small_plan_clone_survives_read_table(spark):
    """read_table re-tunes the session it reads on; on a small-plan clone
    that must keep the clone's AQE-off override and partition pin, and the
    caller's session must stay untouched."""
    from predicting_hospital_readmission_using_mimic_database_spark.session import small_plan_spark

    caller_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sess = small_plan_spark(spark, est_bytes=1)
    assert sess is not spark
    df = read_table(sess, SF, "events").groupBy("event_type").count()
    assert sess.conf.get("spark.sql.adaptive.enabled") == "false"
    assert sess.conf.get("spark.sql.shuffle.partitions") == "1"
    assert "AdaptiveSparkPlan" not in _plan(df)
    assert spark.conf.get("spark.sql.adaptive.enabled") == caller_aqe
