"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() agree."""

import __spark_entry__ as entrymod

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"event_type", "n_events", "n_readmit", "readmit_rate"} <= cols


def test_every_oracle_has_a_query():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 45


def test_first_50_entries_cover_every_family():
    """A verification budget of 50 entries (driver cap) must still see every
    query family — scans through streaming — not just the core relational ops.
    """
    import re

    names = list(entrymod.queries())[:50]
    fams = {re.match(r"[a-z]+", n).group() for n in names}
    assert {
        "flagship", "s", "p", "j", "w", "a", "c", "u",  # core relational
        "t", "m", "e",                                   # text / ML / metrics
        "d", "n", "x", "mm", "st",                       # LLM-pipeline + streaming
    } <= fams, fams
    # round-15 rotation (optimization round — no new entries): every
    # entry whose MACHINERY changed leads — the row-level DML group
    # (delta/iceberg/hudi DELETE/UPDATE/MERGE under the byte-gated
    # small-plan clone, batched bucketed-delta fixture), the Hudi
    # publish/maintenance group and its incremental/CDC/stream
    # consumers (export_hudi COW/MOR staging under the gate), the
    # SnapshotTable MERGE probe+stage, id-mapped reads (fieldId.read
    # joined the session baseline), DV/CDF consumers, and the
    # CC/pagerank loops (loop_session baseline + skew mode)
    for must in ("s80_delta_delete_dv",
                 "s81_delta_merge_cdf",
                 "s82_iceberg_merge",
                 "s83_delta_update_dv",
                 "s84_iceberg_delete",
                 "s85_iceberg_update",
                 "s86_hudi_delete",
                 "s87_hudi_update",
                 "st30_stream_cdc_apply",
                 "s40_hudi_export", "s43_hudi_partitioned_export",
                 "s51_hudi_mor_export", "s52_hudi_mor_compaction",
                 "s53_hudi_mor_partitioned",
                 "s56_hudi_mdt_synced_export", "s58_hudi_clean",
                 "s60_hudi_clustering", "s68_hudi_async_compaction",
                 "s69_hudi_timeline_archival",
                 "s72_hudi_savepoint_restore", "s74_hudi_rollback",
                 "s78_hudi_pending_clustering",
                 "s25_hudi_incremental", "s31_hudi_mor_incremental",
                 "s42_hudi_cdc_infer",
                 "st15_stream_hudi_tail", "st18_stream_hudi_mor",
                 "st20_stream_hudi_cdc",
                 "s9_table_merge", "s59_delta_log_truncate",
                 "s21_delta_column_mapping",
                 "s22_delta_deletion_vectors", "s28_delta_cdf",
                 "st17_stream_delta_cdf",
                 "d6_dup_clusters", "d9_dup_clusters_star",
                 "g1_pagerank",
                 "flagship_readmit_30d"):
        assert must in names
    assert len(names) == 50


def test_queries_runnable_at_smoke_scale(spark, capsys):
    # every registered query must at least build a plan and return a
    # schema. Entries run from a small driver thread pool: each writes
    # only under its own per-entry root, so they are independent jobs
    # the scheduler can overlap (optimization guide §2.6) — identical
    # coverage, a fraction of the sequential wall (this is the suite's
    # single longest test). Each entry's wall time (overlapped with up
    # to three others) is recorded and the 15 slowest are printed past
    # pytest's output capture.
    import time
    from concurrent.futures import ThreadPoolExecutor

    walls = {}

    def build(item):
        name, fn = item
        t0 = time.perf_counter()
        df = fn(spark, SF_SMOKE)
        walls[name] = time.perf_counter() - t0
        assert df.schema is not None, name

    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            for _ in pool.map(build, list(entrymod.queries().items())):
                pass
    finally:
        with capsys.disabled():
            print(f"\nslowest smoke entries (of {len(walls)}, pool of 4):")
            for name, wall in sorted(walls.items(), key=lambda kv: -kv[1])[:15]:
                print(f"  {wall:7.2f}s  {name}")


def test_sql_entry_point_over_views(spark):
    """SURVEY §3.1: the same tables answer spark.sql queries via views."""
    from predicting_hospital_readmission_using_mimic_database_spark.sources.io import register_views

    register_views(spark, "/root/testdata/sf0.001", names=("events", "customer"))
    out = spark.sql("""
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """).collect()
    assert sum(r["n"] for r in out) == spark.table("events").count()
    j = spark.sql("""
        SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment
    """)
    assert j.count() > 0


def test_e2e_pipeline_smoke_structure(spark):
    """sf0.001 has only 15 users: assert pipeline integrity (stratified
    split keeps both classes held out, so AUC is DEFINED), not model
    quality — a 3-row test set's AUC is coin-flip noise."""
    from predicting_hospital_readmission_using_mimic_database_spark.plans.full_pipeline import run_pipeline

    n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    row = run_pipeline(spark, "/root/testdata/sf0.001", seed=42).collect()[0]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
    assert row["n_users"] > 0 and row["n_test"] > 0
    assert 0.2 <= row["prevalence"] <= 0.8  # real two-class task
    assert row["auc"] is not None and 0.0 <= row["auc"] <= 1.0
    assert row["n_train_balanced"] % 2 == 0  # exact 1:1 balance


def test_e2e_pipeline_learns_signal(spark):
    """At sf0.01 (150 users, 28 held out) the model must beat chance."""
    from predicting_hospital_readmission_using_mimic_database_spark.plans.full_pipeline import run_pipeline

    row = run_pipeline(spark, "/root/testdata/sf0.01", seed=42).collect()[0]
    assert row["auc"] is not None and row["auc"] > 0.6


def test_strategy_comparison_shape(spark, monkeypatch):
    """The five strategy rows, in both regimes of the small-plan gate: at
    0 bytes the caller's AQE session builds every frame, at 1 TiB the
    AQE-off clone does. Same strategy order, the same deterministic train
    sizes (hash split; exact-kNN NearMiss), metrics in [0, 1], and no
    cache left behind."""
    from predicting_hospital_readmission_using_mimic_database_spark import session
    from predicting_hospital_readmission_using_mimic_database_spark.plans.full_pipeline import strategy_comparison

    clones = []
    real_clone = session._clone

    def counting_clone(*a, **kw):
        clones.append(a[1])
        return real_clone(*a, **kw)

    monkeypatch.setattr(session, "_clone", counting_clone)
    out = {}
    for gate in (0, 1 << 40):
        monkeypatch.setattr(session, "_SMALL_PLAN_BYTES", gate)
        n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        out[gate] = {r["strategy"]: r for r in strategy_comparison(
            spark, "/root/testdata/sf0.001", seed=42).collect()}
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_cached
        assert len(clones) == (0 if gate == 0 else 1)
    assert clones == [{"spark.sql.adaptive.enabled": "false"}]
    aqe, clone = out[0], out[1 << 40]
    assert list(aqe) == list(clone) == [
        "base", "undersample", "oversample", "smote", "nearmiss"
    ]
    for name in ("base", "nearmiss"):
        assert aqe[name]["n_train"] == clone[name]["n_train"]
    for rows in (aqe, clone):
        for r in rows.values():
            assert r["n_train"] > 0, r["strategy"]
            for k in ("auc", "accuracy", "recall", "precision", "f1"):
                assert r[k] is not None and 0.0 <= r[k] <= 1.0, (r["strategy"], k)


def test_priority_names_all_registered():
    """A typo in PRIORITY silently drops the entry from the driver's
    verification window (load_all filters with `if n in REGISTRY`):
    every name must resolve, none may repeat, and the curated prefix
    must fill the 50-slot window exactly."""
    from predicting_hospital_readmission_using_mimic_database_spark.registry import PRIORITY, load_all

    reg = load_all()
    missing = [n for n in PRIORITY if n not in reg]
    assert missing == [], missing
    assert len(set(PRIORITY)) == len(PRIORITY) == 50


def test_bench_headline_names_all_registered():
    """bench.py skips unknown HEADLINE names by design (half-landed
    modules must not block a round) — which means a typo or a silently
    no-opped edit drops a query from the shipped BENCH artifact with no
    error. Pin every name to the registry here instead."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    qs = entrymod.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert missing == [], missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_no_duplicate_top_level_defs():
    """A function defined twice in one module silently shadows the
    first definition (read_json in sources/io.py bit us in round 5:
    the older signature sat dead above the real one). Walk every
    module in the package and fail on any repeated top-level def /
    class name."""
    import ast
    import os

    import predicting_hospital_readmission_using_mimic_database_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            seen = {}
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if node.name in seen:
                        offenders.append(
                            f"{os.path.relpath(path, root)}: {node.name} "
                            f"(lines {seen[node.name]} and {node.lineno})"
                        )
                    seen[node.name] = node.lineno
    assert offenders == [], offenders
