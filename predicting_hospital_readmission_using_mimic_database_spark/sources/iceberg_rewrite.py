"""Iceberg ``rewriteDataFiles`` — the DATA-FILE compaction completing
the maintenance triad next to snapshot expiry
(:func:`~.iceberg.expire_iceberg_snapshots`) and manifest compaction
(:func:`~.iceberg.rewrite_iceberg_manifests`): many small files (the
shape incremental exports and streaming appends accumulate) rewrite
into few right-sized ones, optionally re-CLUSTERED (``sort_by`` /
``zorder_by``) so per-file column bounds become selective.

Semantics follow the official RewriteDataFiles action:

- the commit is a ``replace`` snapshot — content identical, so the
  changelog (:func:`~.iceberg.read_iceberg_changelog`) emits ZERO rows
  for it (the official scan's own REPLACE skip) and earlier snapshots
  stay time-travelable (old manifests are never mutated);
- live row-level deletes (positional parquet, equality deletes,
  format-v3 deletion vectors) are APPLIED and CONSUMED: struck rows
  are physically dropped, and the delete files leave the new
  snapshot's manifest list — the soft-delete debt is paid down,
  exactly what ``delete-file-threshold`` rewrites exist for;
- schema evolution is MATERIALIZED: files of older write-time
  vintages re-project to the current schema by field id (the batch
  ``_vintage_scan`` machinery), so the rewritten table is
  single-vintage again;
- format-v3 ROW LINEAGE survives: when every live file carries a
  resolvable ``first_row_id``/sequence, rewritten rows persist their
  ``_row_id`` / ``_last_updated_sequence_number`` as MATERIALIZED
  parquet columns (the v3 spec's carry mechanism, which
  ``read_iceberg(row_lineage=True)`` already coalesces ahead of the
  fresh computation), and new entries get explicit ``first_row_id``
  stamps past the table's ``next-row-id``;
- rewritten entries publish refreshed Appendix-D column bounds
  harvested from the new parquet footers, so
  ``read_iceberg(predicates=)`` — and any real engine — data-skips
  the new layout.

Scale shape: ONE scan of the rewritten files (per schema vintage) into
``ceil(rows / target_file_rows)`` outputs — ``coalesce`` (no shuffle)
for bin-packing, one range shuffle for sort/z-order. All metadata work
(manifest diff, bounds harvest, snapshot commit) is driver-side KBs.

Partitioned tables (e.g. an ``export_iceberg_partitioned`` publish)
rewrite PER PARTITION TUPLE: bin-packing combines files only within
one tuple, and ``sort_by`` / ``zorder_by`` re-cluster each tuple's
rows in place (partition purity preserved by construction — the
cluster shuffle is sized by one tuple, the 100 TB shape); replacement
entries carry their tuple under the owning spec's manifest schema
(evolved tables rewrite each vintage under its own spec) and
manifest-list summaries refresh. Only delete application and vintage
materialization stay unpartitioned-only (their global read loses the
tuple grouping) and gate honestly.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from typing import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avro_ocf import read_avro, write_avro
from .iceberg import (
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_FILE_SCHEMA,
    IcebergProtocolError,
    _advance_version_hint,
    _live_files,
    _localize,
    _metadata_path,
    _table_schema,
    _vintage_groups,
    encode_bound,
    read_iceberg,
)
from .io import zorder_value
from .table import _harvest_stats
from ..session import local_frame


def rewrite_iceberg_data_files(
    spark: SparkSession,
    root: str,
    target_file_rows: int = 1_000_000,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    bits: int = 12,
) -> int | None:
    """Compact/re-cluster the CURRENT snapshot's data files. Plain call
    = bin-pack (files under ``target_file_rows`` combine; a full
    rewrite happens instead whenever live deletes must be applied or
    older schema vintages re-projected). ``sort_by`` / ``zorder_by``
    force the full rewrite with that clustering. Returns the new
    snapshot id, or None when nothing qualifies."""
    if target_file_rows < 1:
        raise ValueError("target_file_rows must be >= 1")
    if sort_by and zorder_by:
        raise ValueError("pass sort_by or zorder_by, not both")
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise IcebergProtocolError(
            f"format-version {fv} > 3 is not supported"
        )
    partitioned = any(
        spec.get("fields") for spec in meta.get("partition-specs", [])
    )
    files, pos_dels, eq_dels, dv_dels = _live_files(meta, root, None)
    if not files:
        return None
    # byte-gate the whole op (iceberg_dml's rule): frames below are
    # built from `spark` and consumed inside this op; the manifests
    # already carry every live file's size
    from ..session import small_plan_spark
    from .io import BROADCAST_INFLATION

    spark = small_plan_spark(
        spark,
        est_bytes=BROADCAST_INFLATION
        * sum(
            int((rec[3] or {}).get("file_size_in_bytes") or 0)
            for rec in files
        ),
    )
    schema = _table_schema(meta)
    csid = meta.get("current-schema-id", 0)
    cur_fields = next(
        s for s in meta.get("schemas", []) if s.get("schema-id") == csid
    )["fields"]
    names = {f.name for f in schema.fields}
    for c in list(sort_by or []) + list(zorder_by or []):
        if c not in names:
            raise ValueError(f"clustering names unknown column {c!r}")

    deletes = bool(pos_dels or eq_dels or dv_dels)
    vintages = _vintage_groups(meta, files)
    lineage = fv >= 3 and all(
        rec[5] is not None and rec[2] is not None for rec in files
    )
    recluster = bool(sort_by) or bool(zorder_by)
    # delete application / vintage materialization need the GLOBAL read
    # (read_iceberg applies strikes and field-id projection across the
    # whole table), which loses per-tuple grouping
    needs_global = deletes or vintages is not None
    if needs_global and partitioned:
        raise IcebergProtocolError(
            "delete application / vintage materialization rewrites are "
            "unpartitioned-only (the global read loses partition-tuple "
            "grouping); per-tuple BIN-PACK and per-tuple sort/z-order "
            "re-clustering work on partitioned tables"
        )
    full = needs_global or (recluster and not partitioned)

    import pyarrow.parquet as pq

    def _fcount(rec) -> int:
        return pq.ParquetFile(_localize(rec[0], root)).metadata.num_rows

    # ---- plan: (partition tuple, candidate files) jobs ----------------
    if full:
        jobs = [({}, list(files))]
    else:
        groups: dict[tuple, list] = {}
        for rec in files:
            groups.setdefault(
                tuple(sorted((rec[1] or {}).items())), []
            ).append(rec)
        jobs = []
        for key in sorted(groups):
            recs = sorted(groups[key], key=lambda r: r[0])
            if recluster:
                # layout change: the whole TUPLE re-clusters, unless it
                # is a lone file the target cannot split
                cands = recs
                if len(cands) < 2 and _fcount(cands[0]) <= target_file_rows:
                    continue
            else:
                cands = [
                    r for r in recs if _fcount(r) < target_file_rows
                ]
                if len(cands) < 2:
                    continue
            jobs.append((dict(key), cands))
        if not jobs:
            return None

    specs = meta.get("partition-specs", [])

    def _spec_for(pv: dict) -> dict:
        want = set(pv)
        for s in specs:
            if {f["name"] for f in s.get("fields", [])} == want:
                return s
        raise IcebergProtocolError(
            f"no partition spec matches tuple fields {sorted(want)}"
        )

    lineage_cols = ["_row_id", "_last_updated_sequence_number"]

    def _scan(cands):
        """Candidate files -> DataFrame with lineage carried (the same
        materialized-beats-fresh coalesce the reader applies: a
        never-rewritten file's identity IS first_row_id + position)."""
        paths = sorted(_localize(rec[0], root) for rec in cands)
        read_schema = schema
        if lineage:
            read_schema = T.StructType(
                list(schema.fields)
                + [T.StructField(c, T.LongType(), True) for c in lineage_cols]
            )
        d = spark.read.schema(read_schema).parquet(*paths)
        if not lineage:
            return d
        from urllib.parse import unquote

        from .io import decoded_file_path

        fpc, posc = "__rw_file", "__rw_pos"
        lin = local_frame(
            spark,
            [
                (
                    os.path.abspath(unquote(_localize(rec[0], root))),
                    int(rec[5]),
                    int(rec[2]),
                )
                for rec in cands
            ],
            T.StructType(
                [
                    T.StructField(fpc, T.StringType(), False),
                    T.StructField("__rw_frid", T.LongType(), False),
                    T.StructField("__rw_seq", T.LongType(), False),
                ]
            ),
        )
        return (
            d.select(
                "*",
                decoded_file_path(F.col("_metadata.file_path")).alias(fpc),
                F.col("_metadata.row_index").alias(posc),
            )
            .join(F.broadcast(lin), fpc, "left")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"), F.col("__rw_frid") + F.col(posc)
                ),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(
                    F.col("_last_updated_sequence_number"),
                    F.col("__rw_seq"),
                ),
            )
            .drop(fpc, posc, "__rw_frid", "__rw_seq")
        )

    # ---- per-job content + write + harvest -----------------------------
    snaps = meta.get("snapshots", [])
    sid = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq_new = max(int(meta.get("last-sequence-number", 0)), sid)
    ddir = os.path.join(root, "data")
    os.makedirs(ddir, exist_ok=True)
    stage_root = os.path.join(root, f".rewrite-stage-{uuid.uuid4().hex}")
    new_files: list[tuple[str, dict, int, dict]] = []
    seq_file = 0
    try:
        for gi, (pv, cands) in enumerate(jobs):
            if full:
                df = read_iceberg(spark, root, row_lineage=lineage)
                rows_after = None
                if not (pos_dels or eq_dels):
                    rows_after = sum(_fcount(rec) for rec in cands)
                    for d in dv_dels:
                        card = d.get("cardinality")
                        if card is None:
                            rows_after = None
                            break
                        rows_after -= int(card)
                if rows_after is None:
                    rows_after = df.count()
            else:
                df = _scan(cands)
                rows_after = sum(_fcount(rec) for rec in cands)

            n_out = max(1, math.ceil(rows_after / target_file_rows))
            if zorder_by:
                z = zorder_value(df, list(zorder_by), bits)
                df = (
                    df.withColumn("__z", z)
                    .repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif sort_by:
                df = df.repartitionByRange(
                    n_out, *sort_by
                ).sortWithinPartitions(*sort_by)
            else:
                df = df.coalesce(n_out)
            stage = os.path.join(stage_root, f"g{gi}")
            df.write.parquet(stage)
            parts = sorted(
                p for p in os.listdir(stage)
                if p.startswith("part-") and p.endswith(".parquet")
            )
            for part in parts:
                dst = os.path.join(ddir, f"rw-{sid}-{seq_file:05d}.parquet")
                seq_file += 1
                shutil.move(os.path.join(stage, part), dst)
                n_rows, mm = _harvest_stats(
                    dst, [f.name for f in schema.fields]
                )
                new_files.append((dst, pv, n_rows, mm))
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)

    top_info = {f["name"]: (f["id"], f["type"]) for f in cur_fields}

    def _entry_bounds(mm: dict):
        lo, hi = [], []
        for col, rng in (mm or {}).items():
            info = top_info.get(col)
            if info is None or not rng:
                continue
            fid, itype = info
            b_lo = encode_bound(itype, rng[0])
            b_hi = encode_bound(itype, rng[1])
            if b_lo is None or b_hi is None:
                continue
            lo.append({"key": fid, "value": b_lo})
            hi.append({"key": fid, "value": b_hi})
        return (lo or None, hi or None)

    next_row = None
    if fv >= 3:
        next_row = int(
            meta.get(
                "next-row-id",
                max(int(rec[5] or 0) + _fcount(rec) for rec in files),
            )
        )
    first_row_start = next_row

    id2field = {f["id"]: f for f in cur_fields}

    def _sourced(spec: dict) -> list[dict]:
        return [
            {**f, "source-type": id2field[f["source-id"]]["type"]}
            for f in spec.get("fields", [])
        ]

    def _schema_of(spec: dict) -> dict:
        if not spec.get("fields"):
            return MANIFEST_ENTRY_SCHEMA
        from .iceberg_partitioned import _entry_schema

        return _entry_schema(_sourced(spec))

    mdir = os.path.join(root, "metadata")
    mf_records = []
    # one ADDED manifest per spec used by the replacement files (a
    # manifest's entries share one partition spec)
    by_spec: dict[int, list] = {}
    for dst, pv, n_rows, mm in new_files:
        spec = _spec_for(pv)
        by_spec.setdefault(spec["spec-id"], []).append((dst, pv, n_rows, mm))
    for spec_id in sorted(by_spec):
        spec = next(s for s in specs if s["spec-id"] == spec_id)
        entries = []
        for dst, pv, n_rows, mm in by_spec[spec_id]:
            b_lo, b_hi = _entry_bounds(mm)
            entry = {
                "status": 1,
                "snapshot_id": sid,
                "data_file": {
                    "content": 0,
                    "file_path": dst,
                    "file_format": "PARQUET",
                    "partition": dict(pv),
                    "record_count": n_rows,
                    "file_size_in_bytes": os.path.getsize(dst),
                    "equality_ids": None,
                    "lower_bounds": b_lo,
                    "upper_bounds": b_hi,
                },
            }
            if fv >= 3:
                entry["data_file"]["first_row_id"] = next_row
                next_row += n_rows
            entries.append(entry)
        added_m = os.path.join(mdir, f"manifest-rwdata-{sid}-s{spec_id}.avro")
        write_avro(added_m, _schema_of(spec), entries)
        rec_m = {
            "manifest_path": added_m,
            "manifest_length": os.path.getsize(added_m),
            "partition_spec_id": spec_id,
            "content": 0,
            "added_snapshot_id": sid,
            "sequence_number": seq_new,
            "first_row_id": first_row_start,
        }
        if spec.get("fields"):
            from .iceberg_partitioned import partition_summaries

            rec_m["partitions"] = partition_summaries(
                _sourced(spec), [pv for _d, pv, _n, _m in by_spec[spec_id]]
            )
        mf_records.append(rec_m)

    rewritten_paths = {rec[0] for _pv, cs in jobs for rec in cs}
    cur = next(s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"])
    _s, manifests = read_avro(_localize(cur["manifest-list"], root))
    specs_by_id = {s["spec-id"]: s for s in specs}
    for mrec in manifests:
        if mrec.get("content", 0) == 1:
            # delete manifest: CONSUMED by a full rewrite (its effect is
            # applied in the new files); bin-pack mode never runs with
            # live deletes, so dropping is always correct here
            continue
        mseq = mrec.get("sequence_number")
        _s2, m_entries = read_avro(_localize(mrec["manifest_path"], root))
        out_entries: list[dict] = []
        dead_n = 0
        for e in m_entries:
            if e.get("status", 0) == 2:
                continue
            seq = e.get("sequence_number")
            seq = mseq if seq is None else seq
            fseq = e.get("file_sequence_number")
            stamped = {
                **e,
                "sequence_number": seq,
                "file_sequence_number": seq if fseq is None else fseq,
            }
            if e["data_file"]["file_path"] in rewritten_paths:
                # spec shape: the snapshot that removes files records
                # them as status-2 DELETED entries in the SAME
                # rewritten manifest (its spec rides along), which
                # planning skips and expire_iceberg_snapshots later
                # reaps
                out_entries.append(
                    {**stamped, "status": 2, "snapshot_id": sid}
                )
                dead_n += 1
            else:
                out_entries.append({**stamped, "status": 0})
        if not dead_n:
            mf_records.append(dict(mrec))  # untouched: reuse by path
            continue
        rw_m = os.path.join(
            mdir, f"manifest-rwdata-{sid}-keep{len(mf_records)}.avro"
        )
        mspec = specs_by_id.get(mrec.get("partition_spec_id", 0),
                                {"spec-id": 0, "fields": []})
        write_avro(rw_m, _schema_of(mspec), out_entries)
        mf_records.append(
            {
                **mrec,
                "manifest_path": rw_m,
                "manifest_length": os.path.getsize(rw_m),
            }
        )

    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [{"sequence_number": None, "first_row_id": None, **m} for m in mf_records],
    )
    version = int(meta.get("_export_version", len(snaps))) + 1
    snap = {
        "snapshot-id": sid,
        "parent-snapshot-id": meta.get("current-snapshot-id"),
        "timestamp-ms": int(time.time() * 1000),
        "summary": {"operation": "replace"},
        "manifest-list": mlist,
        "schema-id": csid,
    }
    if fv >= 3 and first_row_start is not None:
        snap["first-row-id"] = first_row_start
    meta["snapshots"] = snaps + [snap]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = seq_new
    meta["last-updated-ms"] = int(time.time() * 1000)
    if fv >= 3 and next_row is not None:
        meta["next-row-id"] = next_row
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid


def remove_orphan_iceberg_files(
    root: str, older_than_ms: int | None = None, dry_run: bool = False
) -> list[str]:
    """See module docstring continuation below — ``older_than_ms``
    defaults to NOW MINUS 3 DAYS (the official action's young-file
    protection), so an in-flight writer's just-staged file under
    ``data/`` is never destroyed by a default invocation. Pass an
    explicit epoch-millis cutoff to widen/narrow, or
    ``older_than_ms=0`` never matches anything younger than epoch —
    use ``remove_orphan_iceberg_files(root, older_than_ms=_NO_AGE_
    PROTECTION)`` to disable protection entirely (tests/controlled
    cleanup only)."""
    if older_than_ms is None:
        older_than_ms = int(time.time() * 1000) - 3 * 24 * 3600 * 1000
    elif older_than_ms is _NO_AGE_PROTECTION:
        older_than_ms = None
    return _remove_orphan_iceberg_files(root, older_than_ms, dry_run)


#: explicit opt-out sentinel for remove_orphan_iceberg_files's
#: young-file protection — a dedicated object so a caller can never
#: disable it by accident with a falsy value
_NO_AGE_PROTECTION = object()
NO_AGE_PROTECTION = _NO_AGE_PROTECTION


def _remove_orphan_iceberg_files(
    root: str, older_than_ms: int | None, dry_run: bool = False
) -> list[str]:
    """removeOrphanFiles — the third maintenance leg next to snapshot
    expiry and the rewrites: delete files under the table's ``data/``
    directory that NO snapshot references (crashed writes, files staged
    by commits that never completed). The reference set is every
    ``data_file.file_path`` (data AND delete content) reachable from
    every snapshot's manifest list — a tombstoned entry's file stays
    protected as long as any snapshot's manifests still name it, so
    time travel never breaks; history GC is ``expire_iceberg_
    snapshots``'s job, not this one's.

    Scope is deliberately ``data/`` only (the directory this engine's
    physical writers use): a ZERO-COPY ``export_iceberg`` shares the
    host SnapshotTable's bucket files at the table root, and scanning
    those would misread the host's unexported state as orphans — the
    same shared-file caution as ``expire_iceberg_snapshots``'s
    ``delete_data_files`` default.

    ``older_than_ms`` (epoch millis) protects young files the way the
    official action's default does — an in-flight writer's staged file
    is not an orphan yet. Returns the deleted (or, with ``dry_run``,
    would-be-deleted) absolute paths; empty directories left behind are
    pruned. Driver-side metadata + one directory walk — no Spark job.
    """
    from urllib.parse import unquote

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    referenced: set[str] = set()
    seen_manifests: set[str] = set()
    for snap in meta.get("snapshots", []):
        if "manifest-list" not in snap:
            for mp in snap.get("manifests", []):  # v1 inline lists
                seen_manifests.add(_localize(mp, root))
            continue
        _s, mrecs = read_avro(_localize(snap["manifest-list"], root))
        for m in mrecs:
            seen_manifests.add(_localize(m["manifest_path"], root))
    for mp in seen_manifests:
        _s2, entries = read_avro(mp)
        for e in entries:
            referenced.add(
                os.path.abspath(
                    unquote(_localize(e["data_file"]["file_path"], root))
                )
            )
    ddir = os.path.join(root, "data")
    orphans: list[str] = []
    for dirpath, dirs, fnames in os.walk(ddir):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for name in fnames:
            if name.startswith("."):
                continue
            p = os.path.abspath(os.path.join(dirpath, name))
            if p in referenced:
                continue
            if older_than_ms is not None:
                if os.path.getmtime(p) * 1000 >= older_than_ms:
                    continue
            orphans.append(p)
    orphans.sort()
    if not dry_run:
        for p in orphans:
            os.remove(p)
        # prune now-empty partition directories bottom-up
        for dirpath, dirs, fnames in os.walk(ddir, topdown=False):
            if dirpath != ddir and not os.listdir(dirpath):
                os.rmdir(dirpath)
    return orphans
