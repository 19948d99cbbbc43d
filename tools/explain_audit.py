#!/usr/bin/env python
"""Dump plan-posture evidence for the headline queries into PLANS.md.

For each query: the parquet ReadSchema lines (column pruning), pushed
filters, exchange/broadcast counts, Python-UDF nodes and pickled Python
RDD scans, and single-partition-window detection
— the structural facts behind the 100 TB claims. Run after operator
changes; the committed PLANS.md is the reviewable artifact.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _node_depth(ln: str) -> int:
    return len(ln) - len(ln.lstrip(" +-:*"))


def _subtree_has_limit(lines: list[str], i: int) -> bool:
    """True when the window's INPUT CHAIN contains a limit operator
    (``TakeOrderedAndProject`` / ``GlobalLimit`` / ``CollectLimit``) —
    its input cardinality is then bounded by the limit, not the data,
    so an empty partition spec is not a single-task trap.

    Only the direct single-child SPINE counts: the walk follows lines
    whose indent depth strictly increases (a sibling branch — a limit
    on the small side of a join — prints at a repeated depth and ends
    the spine), and any node that can RE-EXPAND cardinality between
    the window and the limit (join/union/generate/expand) disqualifies
    — ``limit(10).crossJoin(huge)`` under a global window is still a
    genuine single-task sink."""
    d0 = _node_depth(lines[i])
    prev = d0
    for ln in lines[i + 1:]:
        if not ln.strip():
            break
        d = _node_depth(ln)
        if d <= prev:
            break  # sibling/branch point: the single-child spine ends
        node = ln.lstrip(" +-:*")
        if node.startswith(
            ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit")
        ):
            return True
        head = node.split(" ", 1)[0].split("(", 1)[0]
        if any(tok in head for tok in
               ("Join", "Union", "Generate", "Expand", "CartesianProduct")):
            return False  # cardinality can re-expand above any limit
        prev = d
    return False


def count_unpartitioned_windows(plan: str) -> tuple[int, int, int]:
    """Count Window nodes with an empty partition spec (single-task sink).

    A physical ``Window`` node prints as ``Window [exprs], [partSpec],
    [orderSpec]`` — when the partition spec is empty the node collapses to
    TWO top-level bracket groups: ``Window [exprs], [orderSpec]``. We count
    top-level ``[...]`` groups with a depth scan (exprs nest brackets), and
    flag 2-group nodes whose second group is an order spec (contains a sort
    direction — a partition-only spec would not).

    Returns ``(unbounded, offsets, post_limit)``:

    * windows ordering on the engine's ``__pid`` column are the
      two-pass-numbering OFFSETS windows (``global_index`` /
      ``partitioned_cumsum``) whose input is ONE ROW PER SHUFFLE
      PARTITION by construction — global, but with cardinality bound by
      the partition count, not the data;
    * windows whose input subtree carries a LIMIT operator
      (:func:`_subtree_has_limit`) are POST-LIMIT bounded — e.g. the
      ``row_number`` ranking a ``TakeOrderedAndProject`` top-n result;
    * anything else is a real single-task sink.
    """
    unbounded = offsets = post_limit = 0
    lines = plan.splitlines()
    for idx, ln in enumerate(lines):
        node = ln.lstrip(" +-:*")
        if not node.startswith("Window "):
            continue
        groups: list[str] = []
        depth = 0
        start = 0
        for i, ch in enumerate(node):
            if ch == "[":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(node[start:i])
        if len(groups) == 2 and ("ASC" in groups[1] or "DESC" in groups[1]):
            if "__pid" in groups[1]:
                offsets += 1
            elif _subtree_has_limit(lines, idx):
                post_limit += 1
            else:
                unbounded += 1
    return unbounded, offsets, post_limit


#: physical operators that run Python UDFs in Python workers
PY_UDF_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def count_python_boundary(node) -> tuple[int, int]:
    """``(Python-UDF nodes, pickled Python RDD scans)`` in a physical
    plan. The second are ``Scan ExistingRDD`` leaves fed by a pickled
    Python RDD (``spark.createDataFrame(<list>)``): every action over
    such a frame runs one Python-worker task per slice, a Python
    boundary that no Arrow/pandas node name shows. A
    ``localCheckpoint`` frame prints the same node name, so the scan's
    RDD lineage decides."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return count_python_boundary(node.executedPlan())
    if name == "Scan ExistingRDD":
        return 0, int("PythonRDD" in node.rdd().toDebugString())
    udfs, scans = int(name in PY_UDF_NODES), 0
    kids = node.children()
    for i in range(kids.size()):
        u, s = count_python_boundary(kids.apply(i))
        udfs, scans = udfs + u, scans + s
    return udfs, scans


AUDIT = [
    "flagship_readmit_30d", "p5_filter_numeric", "j1_join_inner",
    "j2_join_dims_broadcast", "j4_join_left_composite", "j5_positional_join",
    "a8_pivot_count", "e1_roc_curve", "e2_auc", "d4_ngram_jaccard",
    "n1_knn_bruteforce", "t13_clean_text_tokens", "x1_text_stats",
    "u7_nearmiss",  # distributed top-n pick (no TakeOrdered funnel)
    # round-4 operators
    "j9_asof_join",       # union-window merge — no range/nested-loop join
    "w7_sessionize", "w8_rolling_avg",
    "w9_ntile_global",    # __pid offsets window only
    "c10_json_extract", "a15_rollup", "t16_tfidf",
    "d7_decontaminate",   # broadcast test-shingle side
    "u9_quota_sample", "x5_pack_chunks",
    # round-4 second batch
    "j10_band_join",      # grid-bucket hash join, NOT BroadcastNestedLoop
    "j11_salted_join",    # hot keys spread over salt sub-keys
    "w10_percent_rank_global",  # __pid offsets window only
    "u10_time_split",
    "x6_lm_quality",      # (doc,token) partials before any shuffle
    "a16_grouping_sets",  # one Expand + one exchange for both marginals
    "x7_mixture_sample",  # broadcast quota dim, one shuffle
    "t17_bigram_counts",  # plan-side pair transform, TakeOrdered top-50
    "u11_stratified_hash_split",
    "j12_supplier_region_rollup",  # two broadcast dims, one exchange
    "n5_knn_join_exact",  # matmul kernel (driver below the bound), no shuffle
    "w12_session_funnel",  # both session windows share one user_id sort
    # round-5 operators
    "x10_domain_stats",   # explode + ONE shared exchange for both aggs
    "x11_gopher_flags",   # map-only scan-speed verdict
    "x12_repetition_stats",  # gram-keyed partial-agg shuffles only
    "x13_chunk_text",     # map-only sequence+posexplode+slice
    "d8_line_dedup",      # line-keyed count-distinct + per-doc rebuild
    "j13_interval_join",  # cell-grid hash join, NOT BroadcastNestedLoop
    "j14_fuzzy_join",     # deletion-variant hash join, NOT BNLJ
    "m12_standard_scale", # d-key stats agg + broadcast back, no re-shuffle
    "x14_weighted_sample",  # TakeOrderedAndProject, no global sort
    "w13_rolling_median", # bounded frame, one partitioned window
    "s8_json_roundtrip",  # schema-first JSON read (no inference scan)
    "t19_feature_hashing",  # fit-free: one explode + one partial agg
    "t20_bpe_pair_counts",  # vocab-frame kernel, corpus aggregates once
    "g1_pagerank",        # per-iteration bounded jobs, no BNLJ
    "d9_dup_clusters_star",  # star contraction: O(|E|) shuffles per round
    # round-6: snapshot-table family + semantic dedup
    "s9_table_merge",     # bucket-pruned copy-on-write MERGE
    "s11_table_skipping", # footer-stats file pruning (few-file scan)
    "s12_table_zorder",   # Morton-clustered 2-D pruned read
    "s13_table_changes",  # delta-scoped exceptAll diff, no table scan
    "s14_incremental_view",  # CDC fold: delta-keyed shuffle only
    "d10_semdedup",       # per-cluster gram kernel, no corpus pair join
    "w15_resample_ffill", # grid-sized work after the one raw-row agg
    "x16_curation_funnel",  # 4 gates + 2 flag-partitioned windows, 1 scan
    "mm6_channel_norm_fit",  # integer partials -> single global fold
    # round-7: delta interop + codebook-balanced sampling
    "s15_delta_read",     # live-file-only read, explicit schema, no inference
    "s16_delta_export",   # read THROUGH the exported log, same posture
    "s17_pyds_snapshot_read",  # python-datasource scan, partition/file
    "s18_iceberg_roundtrip",  # manifest-replay read: live files only
    "s19_hudi_read",      # timeline-resolved file slices, footer schema
    "s20_iceberg_pos_delete",  # delete anti-join on _metadata.row_index
    "s21_delta_column_mapping",  # physical scan + logical restore cast
    "s22_delta_deletion_vectors",  # DV decode + (file,pos) anti-join
    "s23_iceberg_eq_delete",  # sequence-ordered equality anti-join
    "s24_delta_v2_checkpoint",  # manifest+sidecar replay read
    "s25_hudi_incremental",   # touched-groups-only incremental read
    "u12_cluster_balanced",  # map-only assign + one cell-keyed window
    # round-8: new dedup/tokenizer/lakehouse entries
    "d12_substring_dedup",  # gram-digest count shuffle + per-doc sweep window
    "t21_bpe_encode",     # map-only Arrow-batch encode, one output agg
    "s26_iceberg_transform_prune",  # transform-pruned file list, one scan
    "s27_hudi_mor_read",  # base scan + executor log decode + key merge window
    # round-9: MOR deletes/incremental + inspection tables
    "s29_hudi_mor_delete",  # tombstones inside the logged-group merge window
    "s30_iceberg_files_meta",  # driver metadata projection, no data scan
    "s31_hudi_mor_incremental",  # group-pruned merge + commit-time filter
    "s32_delta_stats_skip",  # stats-bounds file pruning, admitted-files scan
    "s34_hudi_event_time_merge",  # precombine-ordered merge window
    "s35_hudi_col_stats_skip",  # metadata-table col-stats pruned scan
    "s36_hudi_bloom_lookup",  # bloom point-lookup single-file plan
    "s37_iceberg_v3_dv",  # puffin DV executor decode + (file,pos) anti-join
    "s38_iceberg_schema_evolution",  # per-vintage scans unioned by field id
    "s39_delta_type_widening",  # single scan, native narrow-type upcast
    "s40_hudi_export",  # export roundtrip read: one scan over file groups
    # round-10 operators
    "s41_iceberg_nested_evolution",  # struct rebuild inside the vintage scan
    "s42_hudi_cdc_infer",  # touched-groups-only diff join
    "s43_hudi_partitioned_export",  # pruned single-partition read-back
    "s44_iceberg_v3_defaults",  # default fill is a literal in the scan
    "s45_iceberg_row_lineage",  # per-file broadcast stamp + row arithmetic
    "s46_delta_row_tracking",  # same shape on the Delta side
    "s47_iceberg_changelog",  # one scan, stamps fan out via broadcast
    # round-11 operators
    "s49_iceberg_changelog_dv_replay",  # liveness algebra: one scan,
    # broadcast live/strike joins, array_compact+explode, no shuffle
    "s50_delta_export_cdf",  # cdc-file scan + broadcast manifest join
    "s51_hudi_mor_export",  # MOR fold over base + appended log blocks
    "s52_hudi_mor_compaction",  # post-compaction slice + fresh log fold
    "s53_hudi_mor_partitioned",  # group-local merges across partitions
    "s54_iceberg_nested_eq_delete",  # dotted-path eq anti-joins
    "s55_iceberg_export_bounds",  # bounds-pruned scan over an export
    "s56_hudi_mdt_synced_export",  # MDT-listed MOR snapshot read
    "s57_iceberg_expire_snapshots",  # post-expiry snapshot read
    "s58_hudi_clean",  # post-clean snapshot read
    "s59_delta_log_truncate",  # checkpoint-replay read after the cut
    "s60_hudi_clustering",  # stats-pruned read over clustered groups
    "s61_iceberg_rewrite_manifests",  # read over the merged manifest
    "s62_delta_optimize",  # post-OPTIMIZE z-ordered read
    "s63_iceberg_rewrite_datafiles",  # post-rewrite sorted read
    "s64_iceberg_partition_evolution",  # cross-spec partitioned read
    "s65_iceberg_orphan_files",  # post-GC partitioned read
    "s66_delta_vacuum",  # post-vacuum live read
    "s67_delta_liquid_clustering",  # declaration-clustered read
    # round-12 operators
    "s68_hudi_async_compaction",  # pending-chain fold + plan-instant bases
    "s69_hudi_timeline_archival",  # boundary-rule read over archived history
    "s70_delta_v2_checkpoint",  # manifest+sidecar replay read after truncate
    "st25_stream_across_maintenance",  # stream tail across OPTIMIZE+VACUUM
    "st26_stream_iceberg_maintenance",  # offset re-anchor + replace skip
    "s71_delta_restore",  # restored-state read: time-travel-exact files
    "s72_hudi_savepoint_restore",  # savepoint-pinned slice read post-restore
    "s73_delta_shallow_clone",  # absolute-path zero-copy read + carried skip
    "s74_hudi_rollback",  # post-rollback snapshot read, debris reclaimed
    "s75_delta_schema_evolution_write",  # renamed + widened mapped read
    # round-13 operators
    "s76_iceberg_wap",  # branch-staged read + published pointer read
    "s77_delta_constraints",  # one-aggregate-pass validated appends read
    "s78_hudi_pending_clustering",  # post-replacecommit clustered read
    "st27_stream_into_constrained",  # constrained-sink drained table read
    "s79_delta_identity",  # identity-assigned appends read (offsets windows)
    "st28_stream_identity_sink",  # identity-sink drained table read
    # round-14 operators
    "s80_delta_delete_dv",  # DV-sidecar-applied post-delete read
    "s81_delta_merge_cdf",  # exact change-feed read of the merge commit
    "s82_iceberg_merge",  # row-delta snapshot + changelog union read
    "s83_delta_update_dv",  # stacked-UPDATE folded state read
    "s84_iceberg_delete",  # stacked pos-delete state + changelog read
    "s85_iceberg_update",  # rewritten-rows state + changelog read
    "s86_hudi_delete",  # tombstone-folded state + CDC images read
    "s87_hudi_update",  # upsert-block-folded state + CDC images read
    "st29_stream_iceberg_wap",  # published main read after streaming WAP
    "st30_stream_cdc_apply",  # CDC-applied (MERGE-sink) replica read
]


def _smote_plan(spark):
    """The u6 operator frame itself (the registry entry returns a
    driver-built invariant row, which has no plan to audit)."""
    from predicting_hospital_readmission_using_mimic_database_spark.operators import sampling as SA
    from predicting_hospital_readmission_using_mimic_database_spark.sources.io import read_table
    from pyspark.sql import functions as F

    e = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding", (F.col("label") >= 5).cast("int").alias("pos")
    )
    return SA.smote(
        e, "vec_id", "embedding", "pos", minority_value=1, k=2, seed=42,
        num_hash_tables=5, target_ratio=1.0,
    )


def _bm25_plan(spark):
    """The x17 operator's LAZY plan (the registry entry materializes
    the <= queries*k result to unpersist its cache deterministically,
    leaving a driver-built frame with no plan to audit)."""
    from predicting_hospital_readmission_using_mimic_database_spark.ml import features as FE
    from predicting_hospital_readmission_using_mimic_database_spark.operators.textstats import bm25_topk
    from predicting_hospital_readmission_using_mimic_database_spark.qdefs_llm import _BM25_QUERIES
    from predicting_hospital_readmission_using_mimic_database_spark.sources.io import read_table

    d = FE.tokens_df(read_table(spark, SF_DIR, "documents"))
    return bm25_topk(d, _BM25_QUERIES, k=10, materialize=False)


def _ivf_pq_plan(spark):
    """The n7 operator's LAZY plan (the registry entry materializes
    the <= k-row result to unpersist its encoded frame, leaving a
    driver-built frame with no plan to audit)."""
    from pyspark.sql import functions as F

    from predicting_hospital_readmission_using_mimic_database_spark.operators import similarity as SI
    from predicting_hospital_readmission_using_mimic_database_spark.sources.io import read_table

    e = read_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    dim = len(e.select("embedding").first()["embedding"])
    probe = [1.0] + [0.0] * (dim - 1)
    return SI.topk_ivf_pq(
        e, "vec_id", "embedding", probe, k=10, n_cells=16, n_probe=8,
        m_subspaces=8, ksub=16, rerank=400, seed=42, materialize=False,
    )


#: operator-level plans audited directly (their registry entries emit
#: driver-built invariant rows)
AUDIT_BUILDERS = {
    "u6_smote (operator frame)": _smote_plan,
    "x17_bm25_topk (operator frame)": _bm25_plan,
    "n7_knn_ivf_pq (operator frame)": _ivf_pq_plan,
}


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("explain-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `python tools/explain_audit.py` at {SF_DIR}. For each",
        "query: scan schemas (pruning), pushed filters, exchange counts, the",
        "Python boundary (Python-UDF nodes: ArrowEvalPython, BatchEvalPython,",
        "MapInPandas, FlatMapGroupsInPandas, FlatMapCoGroupsInPandas; and pickled",
        "Python RDD scans, `Scan ExistingRDD` over `createDataFrame(<list>)`, a",
        "Python-worker task per slice — none should), and whether any window",
        "runs unpartitioned (the single-task trap — none should).",
        "",
    ]
    targets = [(n, None) for n in AUDIT if n in qs]
    targets += [(n, b) for n, b in AUDIT_BUILDERS.items()]
    for name, builder in targets:
        df = builder(spark) if builder else qs[name](spark, SF_DIR)
        jplan = df._jdf.queryExecution().executedPlan()
        plan = jplan.toString()
        scans = sorted(
            {ln.strip() for ln in plan.splitlines() if "ReadSchema" in ln}
        )
        pushed = sorted(
            {
                ln[ln.find("PushedFilters"):][:140]
                for ln in plan.splitlines()
                if "PushedFilters: [" in ln and "PushedFilters: []" not in ln
            }
        )
        n_exch = plan.count("Exchange")
        n_bcast = plan.count("BroadcastExchange")
        # a window spec with an empty partition list = single-task sink
        unpart_windows, offset_windows, postlimit_windows = (
            count_unpartitioned_windows(plan)
        )
        lines.append(f"## {name}")
        lines.append("")
        n_udf, n_pickled = count_python_boundary(jplan)
        lines.append(
            f"- exchanges: {n_exch} (broadcast: {n_bcast}); Python-UDF "
            f"nodes: {n_udf}; pickled Python RDD scans: {n_pickled}"
        )
        annotations = []
        if offset_windows:
            annotations.append(
                f"+{offset_windows} bounded offsets windows, one row "
                "per shuffle partition"
            )
        if postlimit_windows:
            annotations.append(
                f"+{postlimit_windows} post-limit bounded windows, "
                "input capped by a preceding limit"
            )
        lines.append(
            f"- unpartitioned windows: {unpart_windows}"
            + (f" ({'; '.join(annotations)})" if annotations else "")
        )
        for s in scans:
            lines.append(f"- scan: `{s[s.find('ReadSchema'):][:140]}`")
        for p in pushed:
            lines.append(f"- `{p}`")
        lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
