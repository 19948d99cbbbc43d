"""Delta Lake transaction-log INTEROP reader — ingest a real lakehouse
table in place, no copy.

The engine's own :class:`~.table.SnapshotTable` commit log is
deliberately Delta-shaped; this module closes the loop by reading the
ACTUAL ``_delta_log`` JSON protocol (public spec:
https://github.com/delta-io/delta/blob/master/PROTOCOL.md) that
delta-rs / Trino / Spark's delta-io writers produce. What a 100 TB user
actually has is an existing Delta table; ``read_delta`` turns it into a
plain DataFrame by replaying the log on the driver (KBs of metadata, the
same posture as any Delta client) and handing Spark only the LIVE
parquet files — dead files are never opened, and partition-column values
come from the log's authoritative ``partitionValues``, not from path
guessing.

Scope (documented, checked, raising — never silently wrong):

* JSON commit files ``_delta_log/<version 20d>.json``, one action per
  line: ``add`` / ``remove`` / ``metaData`` / ``protocol`` /
  ``commitInfo`` / ``txn``.
* CHECKPOINTS, classic AND v2: classic single-file
  ``n.checkpoint.parquet`` / multi-part ``n.checkpoint.i.of.parquet``,
  and the V2 layout (``n.checkpoint.<uuid>.{json,parquet}`` manifest
  whose ``sidecar`` actions point at add-row parquets under
  ``_delta_log/_sidecars/``) — replay starts from the newest usable
  checkpoint at or below the target version and applies the JSON
  commits after it; incomplete multi-part uploads are ignored, never
  half-read.
* COLUMN MAPPING, both modes. ``name`` (what Spark writes for any
  table that ever renamed/dropped a column): data files carry PHYSICAL
  column names (``col-<uuid>``) from each schema field's
  ``delta.columnMapping.physicalName`` metadata, and partitionValues
  are keyed by physical name too — the read scans with the physical
  schema and restores logical names with one positional struct cast
  per top-level column (nested fields rename through the cast).
  ``id`` mode: columns resolve by the PARQUET FIELD IDS the writer
  stamped into the files (the logical read schema is annotated with
  ``parquet.field.id`` metadata and Spark's field-id resolution is
  enabled on the session) — immune to physical-name drift across
  files, the post-rename shape name-based resolution cannot handle.
* DELETION VECTORS: applied on read — descriptors (inline ``i``,
  relative-uuid ``u``, absolute ``p``) resolve through the from-spec
  roaring/Z85/CRC codec in :mod:`.dv`, and the deleted (file, row
  index) pairs anti-join against the scan's ``_metadata.row_index``.
* Protocol gate: ``minReaderVersion`` 1 is fully supported; 2 with
  column mapping ``none``/``name``; 3+ only when every
  ``readerFeatures`` entry is in the supported set (``timestampNtz``,
  ``columnMapping``, ``deletionVectors``, ``v2Checkpoint``) — unknown
  features raise rather than returning wrong rows.

Reference parity: the reference reloads its whole mutable store to see
writer changes (nb:2101 / nb:2140); a Delta reader sees a concurrent
writer's committed snapshot atomically by replaying the log at read
time.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame, pandas_kernel

DELTA_LOG_DIR = "_delta_log"
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
#: classic checkpoints: n.checkpoint.parquet or n.checkpoint.<part>.<of>.parquet
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$"
)
#: V2 checkpoints: n.checkpoint.<uniqueStr>.{json,parquet} — uniqueStr is
#: a uuid (has a non-digit), which disambiguates from multi-part classic
_V2_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.(?=[0-9A-Za-z_-]*[A-Za-z_-])"
    r"([0-9A-Za-z_-]+)\.(json|parquet)$"
)

__all__ = [
    "DeltaProtocolError",
    "delta_table_version",
    "export_delta_log",
    "read_delta",
    "version_at_timestamp",
]

#: reader-version-3 table features this reader actually honors
_SUPPORTED_READER_FEATURES = {
    "timestampNtz", "columnMapping", "deletionVectors", "v2Checkpoint",
    "typeWidening", "typeWidening-preview",
}


class DeltaProtocolError(NotImplementedError):
    """The table requires reader capabilities this interop layer does not
    implement (unknown reader features, or column-mapping metadata
    missing its required per-field annotations)."""


def _delta_commits(log_dir: str) -> list[tuple[int, str]]:
    """(version, abs_path) of every JSON commit, ascending."""
    out = []
    for name in os.listdir(log_dir):
        m = _COMMIT_RE.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(log_dir, name)))
    out.sort()
    return out


def _check_protocol(action: dict) -> None:
    mrv = action.get("minReaderVersion", 1)
    if mrv <= 1:
        return
    feats = set(action.get("readerFeatures") or [])
    if mrv >= 3:
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"delta table requires reader features {sorted(unsupported)} "
                "(features beyond timestampNtz/columnMapping/"
                "deletionVectors/v2Checkpoint/typeWidening are not "
                "supported by this interop reader)"
            )


def _check_meta(meta: dict) -> dict:
    mode = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
    if mode not in ("none", "name", "id"):
        raise DeltaProtocolError(
            f"delta.columnMapping.mode={mode} is not supported"
        )
    ss = meta.get("schemaString") or ""
    if "delta.typeChanges" in ss:
        _check_type_widening(json.loads(ss))
    return meta


_INT_ORDER = {"byte": 0, "short": 1, "int": 2, "integer": 2, "long": 3}
#: integer digits an int-family value can need (spec: int family may
#: widen to a decimal with at least this much integer headroom)
_INT_DIGITS = {"byte": 3, "short": 5, "int": 10, "integer": 10, "long": 20}


def _widening_ok(ft: str, tt: str) -> bool:
    """Is fromType -> toType one of the TYPE WIDENING feature's legal
    changes (PROTOCOL.md 'Type Widening': integer-family upcasts,
    float->double, byte/short/int->double, date->timestampNtz, and
    decimal widenings that never drop scale or integer digits)?"""
    ft, tt = str(ft), str(tt)
    if ft == tt:
        return True
    if ft in _INT_ORDER and tt in _INT_ORDER:
        return _INT_ORDER[ft] < _INT_ORDER[tt]
    if ft == "float" and tt == "double":
        return True
    if ft in ("byte", "short", "int", "integer") and tt == "double":
        return True
    if ft == "date" and tt in ("timestampNtz", "timestamp_ntz"):
        return True
    dec = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
    mf, mt = dec.match(ft), dec.match(tt)
    if mt:
        p2, s2 = int(mt.group(1)), int(mt.group(2))
        if mf:
            p1, s1 = int(mf.group(1)), int(mf.group(2))
            return s2 >= s1 and p2 - s2 >= p1 - s1
        if ft in _INT_DIGITS:
            return p2 - s2 >= _INT_DIGITS[ft]
    return False


def _check_type_widening(schema_json: dict) -> None:
    """Validate every field's ``delta.typeChanges`` history (the TYPE
    WIDENING reader feature): each recorded change must be a legal
    widening — this reader then relies on the parquet scan's native
    upcast of old physical types to the final schema, so a narrowing
    smuggled into the metadata would silently corrupt values instead
    of failing; raise up front."""

    def walk(dt) -> None:
        if not isinstance(dt, dict):
            return
        if dt.get("type") == "struct":
            for f in dt.get("fields", []):
                for tc in (f.get("metadata") or {}).get(
                    "delta.typeChanges", []
                ):
                    if not _widening_ok(tc.get("fromType"), tc.get("toType")):
                        raise DeltaProtocolError(
                            f"field {f.get('name')!r} records type change "
                            f"{tc.get('fromType')!r} -> {tc.get('toType')!r}"
                            ", which is not a legal type widening"
                        )
                walk(f.get("type"))
        elif dt.get("type") == "array":
            walk(dt.get("elementType"))
        elif dt.get("type") == "map":
            walk(dt.get("keyType"))
            walk(dt.get("valueType"))

    walk(schema_json)


_PHYS_KEY = "delta.columnMapping.physicalName"
_ID_KEY = "delta.columnMapping.id"


def _field_id_type(dt):
    """The logical type annotated for parquet FIELD-ID resolution: every
    struct field keeps its LOGICAL name but carries
    ``{"parquet.field.id": <delta.columnMapping.id>}`` metadata,
    recursively — with ``spark.sql.parquet.fieldId.read.enabled`` the
    scan then matches columns by the ids Delta id-mode writers stamp
    into the files, immune to physical-name drift."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            fid = (f.metadata or {}).get(_ID_KEY)
            if fid is None:
                raise DeltaProtocolError(
                    f"column mapping is 'id' but field {f.name!r} has "
                    f"no {_ID_KEY} metadata"
                )
            out.append(
                T.StructField(
                    f.name,
                    _field_id_type(f.dataType),
                    f.nullable,
                    {"parquet.field.id": int(fid)},
                )
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_field_id_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _field_id_type(dt.keyType),
            _field_id_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _physical_type(dt):
    """The PHYSICAL twin of a logical data type: every struct field
    renamed to its ``delta.columnMapping.physicalName`` metadata,
    recursively (arrays/maps of structs included) — the shape the
    parquet files actually store under column mapping ``name`` mode."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        out = []
        for f in dt.fields:
            phys = (f.metadata or {}).get(_PHYS_KEY)
            if not phys:
                raise DeltaProtocolError(
                    f"column mapping is 'name' but field {f.name!r} has "
                    f"no {_PHYS_KEY} metadata"
                )
            out.append(
                T.StructField(phys, _physical_type(f.dataType), f.nullable)
            )
        return T.StructType(out)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


class _State:
    __slots__ = ("meta", "live", "dvs", "stats", "rowids", "domains",
                 "txns")

    def __init__(self):
        self.meta: dict | None = None
        self.live: dict[str, dict] = {}
        #: data path -> deletionVector descriptor (absent = no deletes)
        self.dvs: dict[str, dict] = {}
        #: data path -> the add action's stats JSON string (absent/None
        #: = the writer recorded none; skipping must keep the file)
        self.stats: dict[str, str] = {}
        #: data path -> (baseRowId, defaultRowCommitVersion) — the
        #: rowTracking writer feature's per-file lineage stamps
        self.rowids: dict[str, tuple] = {}
        #: domain name -> configuration JSON string for LIVE
        #: domainMetadata (removed:true tombstones the domain). Spec:
        #: checkpoints MUST carry these, so truncating the log below a
        #: checkpoint cannot lose clustering / row-id-watermark state.
        self.domains: dict[str, str] = {}
        #: appId -> newest setTransaction version — the streaming-sink
        #: dedup state. Spec: checkpoints MUST carry txn actions, or
        #: truncating the log would collapse the exactly-once window
        #: and a replayed micro-batch could double-append.
        self.txns: dict[str, int] = {}

    def txn(self, t: dict) -> None:
        app = t.get("appId")
        if not app:
            return
        v = int(t.get("version", -1))
        if v > self.txns.get(app, -1):
            self.txns[app] = v

    def domain(self, dm: dict) -> None:
        name = dm.get("domain")
        if not name:
            return
        if dm.get("removed"):
            self.domains.pop(name, None)
        else:
            self.domains[name] = dm.get("configuration") or "{}"

    def add(self, a: dict) -> None:
        path = unquote(a["path"])
        self.live[path] = a.get("partitionValues") or {}
        st = a.get("stats")
        if st:
            self.stats[path] = st
        else:
            self.stats.pop(path, None)
        bri, drv = a.get("baseRowId"), a.get("defaultRowCommitVersion")
        if bri is not None or drv is not None:
            self.rowids[path] = (bri, drv)
        else:
            self.rowids.pop(path, None)
        dv = a.get("deletionVector")
        if dv:
            self.dvs[path] = dict(dv)
        else:
            # re-adding a file WITHOUT a DV (e.g. after compaction)
            # clears any earlier vector
            self.dvs.pop(path, None)

    def remove(self, path: str) -> None:
        path = unquote(path)
        self.live.pop(path, None)
        self.dvs.pop(path, None)
        self.stats.pop(path, None)
        self.rowids.pop(path, None)


def _checkpoints(log_dir: str) -> dict[int, list[str]]:
    """{checkpoint version: [part paths, ascending]} for classic
    single-file and multi-part checkpoints."""
    out: dict[int, list[tuple[int, str]]] = {}
    for name in os.listdir(log_dir):
        m = _CHECKPOINT_RE.match(name)
        if m:
            v = int(m.group(1))
            part = int(m.group(2)) if m.group(2) else 1
            out.setdefault(v, []).append((part, os.path.join(log_dir, name)))
    done: dict[int, list[str]] = {}
    for v, parts in out.items():
        parts.sort()
        declared = None
        m = _CHECKPOINT_RE.match(os.path.basename(parts[0][1]))
        if m.group(3):
            declared = int(m.group(3))
        if declared is not None and len(parts) != declared:
            continue  # incomplete multi-part upload: not a usable snapshot
        done[v] = [p for _i, p in parts]
    return done


def _v2_checkpoints(log_dir: str) -> dict[int, tuple[str, str]]:
    """{version: (format, manifest path)} for V2 checkpoints (the
    checkpoint-manifest + sidecar layout newer writers produce). Every
    uniqueStr manifest of a version is equivalent per spec; the
    lexicographically first is chosen for determinism."""
    out: dict[int, tuple[str, str]] = {}
    for name in sorted(os.listdir(log_dir)):
        m = _V2_CHECKPOINT_RE.match(name)
        if m and int(m.group(1)) not in out:
            out[int(m.group(1))] = (m.group(3), os.path.join(log_dir, name))
    return out


def _load_checkpoint_v2(fmt: str, path: str, log_dir: str, state: _State) -> None:
    """Fold a V2 checkpoint into ``state``: the manifest's own actions
    (protocol / metaData / inlined file actions) plus every SIDECAR
    parquet's add rows (remove rows are vacuum tombstones, no live
    state). Sidecar paths resolve against ``_delta_log/_sidecars/``."""
    sidecars: list[str] = []

    def act(kind: str, row: dict) -> None:
        if kind == "protocol":
            _check_protocol(row)
        elif kind == "metaData":
            state.meta = _check_meta(row)
        elif kind == "add":
            state.add(row)
        elif kind == "domainMetadata":
            state.domain(row)
        elif kind == "txn":
            state.txn(row)
        elif kind == "sidecar":
            sp = row["path"]
            if not os.path.isabs(sp) and "://" not in sp:
                sp = os.path.join(log_dir, "_sidecars", sp)
            sidecars.append(sp)
        # remove: tombstone; checkpointMetadata: no live state

    kinds = ("protocol", "metaData", "add", "domainMetadata", "sidecar",
             "txn")
    if fmt == "json":
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                for kind in kinds:
                    if kind in a:
                        act(kind, a[kind])
    else:
        _read_action_parquet(path, kinds, act)
    for sp in sidecars:
        _read_action_parquet(sp, ("add", "domainMetadata"), act)


def _read_action_parquet(path: str, kinds: tuple[str, ...], act) -> None:
    """Stream one action-columnar parquet file (checkpoint manifest or
    sidecar) through ``act(kind, row)`` with pyarrow map columns
    plainified — shared by the classic and V2 loaders."""
    import pyarrow.parquet as pq

    def _plain(v):
        if isinstance(v, list) and all(
            isinstance(t, tuple) and len(t) == 2 for t in v
        ):
            return dict(v)
        return v

    pf = pq.ParquetFile(path)
    cols = [c for c in kinds if c in pf.schema_arrow.names]
    table = pf.read(columns=cols)
    for col in cols:
        for row in table.column(col).to_pylist():
            if row is None:
                continue
            row = dict(row)
            if col == "metaData":
                row["configuration"] = _plain(row.get("configuration")) or {}
            elif col == "add":
                row["partitionValues"] = _plain(row.get("partitionValues")) or {}
                if row.get("deletionVector"):
                    row["deletionVector"] = dict(row["deletionVector"])
            act(col, row)


def _load_checkpoint(paths: list[str], state: _State) -> None:
    """Fold a classic parquet checkpoint (the full live-file set plus
    metaData/protocol rows; remove rows are vacuum tombstones and carry
    no live state) into ``state``. Driver-side pyarrow read of the
    action columns only — stats/tags are skipped, data files untouched."""
    import pyarrow.parquet as pq

    def _plain(v):
        # pyarrow map columns surface as list-of-(key, value) tuples
        if isinstance(v, list) and all(
            isinstance(t, tuple) and len(t) == 2 for t in v
        ):
            return dict(v)
        return v

    for path in paths:
        pf = pq.ParquetFile(path)
        cols = [
            c for c in ("protocol", "metaData", "add", "domainMetadata",
                        "txn")
            if c in pf.schema_arrow.names
        ]
        table = pf.read(columns=cols)
        for col in cols:
            for row in table.column(col).to_pylist():
                if row is None:
                    continue
                if col == "protocol":
                    _check_protocol(row)
                elif col == "txn":
                    state.txn(dict(row))
                elif col == "metaData":
                    row = dict(row)
                    row["configuration"] = _plain(row.get("configuration")) or {}
                    state.meta = _check_meta(row)
                elif col == "domainMetadata":
                    state.domain(dict(row))
                else:
                    row = dict(row)
                    row["partitionValues"] = _plain(row.get("partitionValues")) or {}
                    state.add(row)


def _replay_log(
    root: str, version: int | None = None, stats_out: dict | None = None,
    rowids_out: dict | None = None, domains_out: dict | None = None,
    txns_out: dict | None = None,
) -> tuple[dict, dict[str, dict], int]:
    """Replay ``_delta_log`` up to ``version`` (inclusive; None =
    latest): start from the newest usable parquet CHECKPOINT at or
    below the target (the state real Delta writers compact every ~10
    commits), then apply the JSON commits after it. Returns (metaData
    action, {data path: partitionValues}, {data path: deletionVector
    descriptor}, last replayed version); ``stats_out`` (when given) is
    filled with {data path: add-action stats JSON} for live files whose
    writer recorded stats. Driver-side metadata only — no data file is
    touched."""
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {root}")
    commits = _delta_commits(log_dir)
    cps = _checkpoints(log_dir)
    v2cps = _v2_checkpoints(log_dir)
    if not commits and not cps and not v2cps:
        if any(_CHECKPOINT_RE.match(n) for n in os.listdir(log_dir)):
            raise DeltaProtocolError(
                "only INCOMPLETE multi-part checkpoint files present "
                f"(missing parts) in {log_dir}; cannot reconstruct a snapshot"
            )
        raise FileNotFoundError(f"empty {DELTA_LOG_DIR}: {root}")
    state = _State()
    start_cp = None
    for v in sorted(set(cps) | set(v2cps), reverse=True):
        if version is not None and v > version:
            continue
        # usable only if JSON commits cover every version after it up to
        # the target (or the log tail)
        start_cp = v
        break
    if start_cp is None and (not commits or commits[0][0] != 0):
        raise DeltaProtocolError(
            f"log starts at version {commits[0][0] if commits else '?'} with "
            "no usable parquet checkpoint at or below the requested version; "
            "cannot reconstruct a consistent snapshot"
        )
    if start_cp is not None:
        if start_cp in cps:  # classic preferred when both exist
            _load_checkpoint(cps[start_cp], state)
        else:
            fmt, mpath = v2cps[start_cp]
            _load_checkpoint_v2(fmt, mpath, log_dir, state)
        last = start_cp
        expected = start_cp + 1
    else:
        last = -1
        expected = 0
    for v, path in commits:
        if v < expected:
            continue
        if version is not None and v > version:
            break
        if v != expected:
            raise DeltaProtocolError(
                f"missing commit version {expected} (found {v}); cannot "
                "reconstruct a consistent snapshot"
            )
        expected += 1
        last = v
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(action["protocol"])
                elif "metaData" in action:
                    state.meta = _check_meta(action["metaData"])
                elif "add" in action:
                    state.add(action["add"])
                elif "remove" in action:
                    state.remove(action["remove"]["path"])
                elif "domainMetadata" in action:
                    state.domain(action["domainMetadata"])
                elif "txn" in action:
                    state.txn(action["txn"])
                # commitInfo / cdc: metadata-only, ignored
    if version is not None and last != version:
        raise ValueError(
            f"requested version {version} but log ends at {last}"
        )
    if state.meta is None:
        raise DeltaProtocolError(
            "no metaData action found in the replayed log; cannot "
            "determine the table schema"
        )
    if stats_out is not None:
        stats_out.update(state.stats)
    if rowids_out is not None:
        rowids_out.update(state.rowids)
    if domains_out is not None:
        domains_out.update(state.domains)
    if txns_out is not None:
        txns_out.update(state.txns)
    return state.meta, state.live, state.dvs, last


def delta_table_version(root: str) -> int:
    """Latest committed version of the Delta table at ``root``."""
    _meta, _live, _dvs, last = _replay_log(root)
    return last


def version_at_timestamp(root: str, ts_millis: int) -> int:
    """The version a TIMESTAMP time travel resolves to: the LAST commit
    whose timestamp is <= ``ts_millis`` (Delta's semantics). Per commit
    the timestamp is resolved in the protocol's precedence order:

    1. ``commitInfo.inCommitTimestamp`` — the ``inCommitTimestamp``
       writer feature (Delta 4.x): when
       ``delta.enableInCommitTimestamps`` is on, every commit MUST
       record its timestamp here and readers MUST use it (file
       mtimes shift on copy/restore/migration; ICT is the one stamp
       the writer actually committed). Commits BEFORE the feature's
       enablement version carry no ICT and keep the old resolution —
       per-commit presence is exactly the enablement boundary. The
       spec requires ICTs to be strictly increasing; a regression is
       malformed metadata and raises rather than silently
       mis-resolving travel.
    2. ``commitInfo.timestamp`` when the writer recorded one,
    3. the commit file's mtime — the same fallback real Delta readers
       use.

    Raises if the table's first commit is after the requested time.
    Only the JSON tail is consulted, so a vacuumed-with-checkpoint log
    resolves timestamps only for the commits it still has — older
    requests raise."""
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {root}")
    best = None
    earliest = None
    last_ict = None
    for v, path in _delta_commits(log_dir):
        ts = None
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                ci = a.get("commitInfo")
                if ci is None:
                    continue
                ict = ci.get("inCommitTimestamp")
                if ict is not None:
                    ts = int(ict)
                    if last_ict is not None and ts <= last_ict:
                        raise DeltaProtocolError(
                            f"inCommitTimestamp regressed at version {v} "
                            f"({ts} after {last_ict}); the spec requires "
                            "strictly increasing ICTs — timestamp travel "
                            "cannot be resolved on this log"
                        )
                    last_ict = ts
                elif ci.get("timestamp"):
                    ts = int(ci["timestamp"])
                break
        if ts is None:
            ts = int(os.path.getmtime(path) * 1000)
        earliest = ts if earliest is None else min(earliest, ts)
        if ts <= ts_millis:
            best = v if best is None else max(best, v)
    if best is None:
        raise ValueError(
            f"no commit at or before timestamp {ts_millis} "
            f"(earliest available commit timestamp: {earliest})"
        )
    return best


def _ckpt_types(pa):
    """The checkpoint action-column Arrow types, shared by the classic
    and V2 writers."""
    protocol_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            # feature-versioned tables (DVs, row tracking) must keep
            # their declarations through a checkpoint replay
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            # row-tracking stamps + deletion-vector descriptors are
            # LIVE-FILE STATE: a checkpoint that dropped them would
            # corrupt any replay that starts from it (the loader
            # restores whatever the add struct carries) — all-null on
            # tables without the features, per the spec's checkpoint
            # schema
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
            (
                "deletionVector",
                pa.struct(
                    [
                        ("storageType", pa.string()),
                        ("pathOrInlineDv", pa.string()),
                        ("offset", pa.int32()),
                        ("sizeInBytes", pa.int32()),
                        ("cardinality", pa.int64()),
                    ]
                ),
            ),
        ]
    )
    domain_t = pa.struct(
        [
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ]
    )
    # setTransaction state: spec checkpoint schema — dropping it would
    # collapse the streaming-sink exactly-once window on truncation
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
        ]
    )
    return protocol_t, meta_t, add_t, domain_t, txn_t


def _ckpt_add_row(a: dict) -> dict:
    return {
        "path": a["path"],
        "partitionValues": dict(a.get("partitionValues") or {}),
        "size": a.get("size", 0),
        "modificationTime": a.get("modificationTime", 0),
        "dataChange": False,  # checkpoint rows are state, not changes
        "stats": a.get("stats"),
        "baseRowId": a.get("baseRowId"),
        "defaultRowCommitVersion": a.get("defaultRowCommitVersion"),
        "deletionVector": (
            {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            }
            if (dv := a.get("deletionVector"))
            else None
        ),
    }


def _ckpt_meta_row(meta: dict) -> dict:
    return {
        "id": meta["id"],
        "format": {"provider": "parquet"},
        "schemaString": meta["schemaString"],
        "partitionColumns": list(meta.get("partitionColumns") or []),
        "configuration": dict(meta.get("configuration") or {}),
    }


def _write_checkpoint_file(
    log_dir: str, version: int, meta: dict, adds: list[dict],
    protocol: dict | None = None, domains: dict[str, str] | None = None,
    v2_threshold: int | None = None, sidecar_rows: int = 100_000,
    txns: dict[str, int] | None = None,
) -> None:
    """Write a parquet checkpoint for ``version`` (protocol, metaData,
    every live add, every LIVE domainMetadata) plus the
    ``_last_checkpoint`` pointer — the compaction real Delta writers
    perform so readers replay from the checkpoint instead of commit 0.
    The spec requires checkpoints to carry live domainMetadata: without
    it, truncating the log below the checkpoint would silently lose the
    liquid-clustering declaration (``delta.clustering``) and the row-id
    high watermark (``delta.rowTracking``).

    Layout selection: classic SINGLE-FILE by default; when
    ``v2_threshold`` is set and the action count exceeds it, the V2
    MANIFEST + SIDECAR layout is written instead
    (:func:`_write_checkpoint_v2`) — at 100 TB a classic checkpoint is
    one driver-side parquet of MILLIONS of add rows, while V2 shards
    the file actions into ``sidecar_rows``-sized sidecars the manifest
    references, the layout real writers switch to at scale. Atomic:
    parquet staged then renamed, pointer written last."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dom_rows = [
        {"domain": d, "configuration": cfg, "removed": False}
        for d, cfg in sorted((domains or {}).items())
    ]
    txn_rows = [
        {"appId": a, "version": int(v)}
        for a, v in sorted((txns or {}).items())
    ]
    n = 2 + len(adds) + len(dom_rows) + len(txn_rows)
    if v2_threshold is not None and n > v2_threshold:
        _write_checkpoint_v2(
            log_dir, version, meta, adds, protocol, dom_rows,
            sidecar_rows, txn_rows,
        )
        return
    protocol_t, meta_t, add_t, domain_t, txn_t = _ckpt_types(pa)
    proto_col = [
        protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    ] + [None] * (n - 1)
    meta_col = [None, _ckpt_meta_row(meta)] + [None] * (
        len(adds) + len(dom_rows) + len(txn_rows)
    )
    dom_col = (
        [None, None] + [None] * len(adds) + dom_rows
        + [None] * len(txn_rows)
    )
    txn_col = (
        [None, None] + [None] * (len(adds) + len(dom_rows)) + txn_rows
    )
    add_col = (
        [None, None]
        + [_ckpt_add_row(a) for a in adds]
        + [None] * (len(dom_rows) + len(txn_rows))
    )
    cols = {
        "protocol": pa.array(proto_col, type=protocol_t),
        "metaData": pa.array(meta_col, type=meta_t),
        "add": pa.array(add_col, type=add_t),
    }
    if dom_rows:
        cols["domainMetadata"] = pa.array(dom_col, type=domain_t)
    if txn_rows:
        cols["txn"] = pa.array(txn_col, type=txn_t)
    table = pa.table(cols)
    final = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
    tmp = final + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    ptr = os.path.join(log_dir, "_last_checkpoint")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": n}, f)
    os.replace(tmp, ptr)


def _write_checkpoint_v2(
    log_dir: str, version: int, meta: dict, adds: list[dict],
    protocol: dict | None, dom_rows: list[dict], sidecar_rows: int,
    txn_rows: list[dict] | None = None,
) -> None:
    """The V2 MANIFEST + SIDECAR checkpoint layout: file actions shard
    into ``sidecar_rows``-sized parquet SIDECARS under
    ``_delta_log/_sidecars/``; the manifest
    (``{version}.checkpoint.{uniqueStr}.parquet``) holds
    checkpointMetadata, protocol, metaData, live domainMetadata, and
    one ``sidecar`` row per shard. Spec obligation: a table whose
    checkpoints use V2 must DECLARE the ``v2Checkpoint`` reader+writer
    feature — the manifest's protocol row is upgraded to carry it
    (minReaderVersion 3 / minWriterVersion 7) when the declared
    protocol doesn't yet, so a spec-following foreign reader replaying
    from the checkpoint sees the obligation. Sidecars are written
    before the manifest, the manifest before the pointer — a crash
    leaves at worst unreferenced sidecars (cleaned by
    ``truncate_delta_log``'s ref-counting), never a manifest naming
    missing shards."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    protocol_t, meta_t, add_t, domain_t, txn_t = _ckpt_types(pa)
    txn_rows = txn_rows or []
    proto = dict(
        protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    if "v2Checkpoint" not in rf:
        rf.add("v2Checkpoint")
        wf.add("v2Checkpoint")
        proto = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }
    sdir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sdir, exist_ok=True)
    sidecar_t = pa.struct(
        [
            ("path", pa.string()),
            ("sizeInBytes", pa.int64()),
            ("modificationTime", pa.int64()),
        ]
    )
    sc_rows: list[dict] = []
    for lo in range(0, max(len(adds), 1), sidecar_rows):
        chunk = adds[lo : lo + sidecar_rows]
        name = f"{uuid.uuid4()}.parquet"
        sp = os.path.join(sdir, name)
        tmp = sp + ".tmp"
        pq.write_table(
            pa.table(
                {
                    "add": pa.array(
                        [_ckpt_add_row(a) for a in chunk], type=add_t
                    )
                }
            ),
            tmp,
        )
        os.replace(tmp, sp)
        sc_rows.append(
            {
                "path": name,
                "sizeInBytes": os.path.getsize(sp),
                "modificationTime": 0,
            }
        )
    ckm_t = pa.struct([("version", pa.int64())])
    n = 3 + len(dom_rows) + len(txn_rows) + len(sc_rows)
    rows: dict[str, list] = {
        "checkpointMetadata": [None] * n,
        "protocol": [None] * n,
        "metaData": [None] * n,
        "domainMetadata": [None] * n,
        "txn": [None] * n,
        "sidecar": [None] * n,
    }
    rows["checkpointMetadata"][0] = {"version": version}
    rows["protocol"][1] = proto
    rows["metaData"][2] = _ckpt_meta_row(meta)
    for i, d in enumerate(dom_rows):
        rows["domainMetadata"][3 + i] = d
    for i, t in enumerate(txn_rows):
        rows["txn"][3 + len(dom_rows) + i] = t
    for i, s in enumerate(sc_rows):
        rows["sidecar"][3 + len(dom_rows) + len(txn_rows) + i] = s
    cols = {
        "checkpointMetadata": pa.array(rows["checkpointMetadata"], type=ckm_t),
        "protocol": pa.array(rows["protocol"], type=protocol_t),
        "metaData": pa.array(rows["metaData"], type=meta_t),
        "sidecar": pa.array(rows["sidecar"], type=sidecar_t),
    }
    if dom_rows:
        cols["domainMetadata"] = pa.array(rows["domainMetadata"], type=domain_t)
    if txn_rows:
        cols["txn"] = pa.array(rows["txn"], type=txn_t)
    unique = uuid.uuid4().hex
    final = os.path.join(
        log_dir, f"{version:020d}.checkpoint.{unique}.parquet"
    )
    tmp = final + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, final)
    ptr = os.path.join(log_dir, "_last_checkpoint")
    tmp = ptr + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, "size": n, "v2Checkpoint": True}, f)
    os.replace(tmp, ptr)


def _declared_protocol(log_dir: str) -> dict | None:
    """The table's newest protocol action: JSON commits first (last
    wins), else the newest classic checkpoint's protocol row — a
    checkpoint written with the legacy default must not UNDERSTATE a
    feature-versioned table's declaration (e.g. an exported log whose
    v0 declares minWriterVersion 7 with writerFeatures
    [inCommitTimestamp, changeDataFeed] must keep that through every
    checkpoint, or truncating v0 away makes the true protocol
    unrecoverable and a foreign writer could legally commit without
    ICT/CDF obligations)."""
    proto = None
    for _v, cpath in _delta_commits(log_dir):
        with open(cpath) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if "protocol" in a:
                    proto = dict(a["protocol"])
    if proto is not None:
        return proto
    import pyarrow.parquet as pq

    # Pick the NEWEST checkpoint across BOTH layouts: a table whose
    # writer upgraded the protocol and then crossed to V2 checkpoints
    # (classic at v10 still on disk, V2 manifest at v20 carrying the
    # upgraded declaration) must report the V2 protocol — preferring
    # classic unconditionally would understate the declaration once
    # the JSON commits holding the protocol are truncated.
    cps = _checkpoints(log_dir)
    v2cps = _v2_checkpoints(log_dir)
    classic_v = max(cps) if cps else None
    v2_v = max(v2cps) if v2cps else None
    if classic_v is not None and (v2_v is None or classic_v >= v2_v):
        for part in cps[classic_v]:
            pf = pq.ParquetFile(part)
            if "protocol" not in pf.schema_arrow.names:
                continue
            for row in (
                pf.read(columns=["protocol"]).column("protocol").to_pylist()
            ):
                if row is not None:
                    return {
                        k: v for k, v in dict(row).items() if v is not None
                    }
    if v2_v is None:
        return None
    fmt, mpath = v2cps[v2_v]
    found: list[dict] = []

    def act(kind: str, row: dict) -> None:
        if kind == "protocol" and row is not None:
            found.append({k: v for k, v in dict(row).items() if v is not None})

    if fmt == "json":
        with open(mpath) as f:
            for line in f:
                line = line.strip()
                if line:
                    a = json.loads(line)
                    if "protocol" in a:
                        act("protocol", a["protocol"])
    else:
        _read_action_parquet(mpath, ("protocol",), act)
    return found[0] if found else None


def _publish_commit(log_dir: str, version: int, actions: list[dict]) -> bool:
    """ATOMICALLY claim ``{version}.json`` — Delta's commit rule is
    put-if-absent on the version file (the spec's optimistic
    concurrency): stage the actions to a temp file, then hard-link it
    to the final name, which fails atomically when a FOREIGN writer
    already took the version. Returns False on that loss (the caller
    rebases and retries); a plain ``os.replace`` here would silently
    CLOBBER the foreign commit."""
    import uuid

    tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        for action in actions:
            f.write(json.dumps(action) + "\n")
    final = os.path.join(log_dir, f"{version:020d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)
    return True


def _commit_actions(log_dir: str, version: int) -> list[dict]:
    """The JSON actions of one commit — the conflict-inspection surface
    a loser of the optimistic race reads to decide rebase vs raise."""
    out = []
    with open(os.path.join(log_dir, f"{version:020d}.json")) as f:
        for line in f:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _now_ms() -> int:
    import time as _time

    return int(_time.time() * 1000)


def _ict_commit_info(
    log_dir: str, version: int, operation: str = "WRITE"
) -> dict:
    """commitInfo action with an IN-COMMIT TIMESTAMP (the 4.x writer
    feature exported logs declare from v0): wall clock, forced STRICTLY
    past the previous commit's ICT per spec. Shared by the export and
    the log-level OPTIMIZE (delta_optimize.py)."""
    import time as _time

    ict = int(_time.time() * 1000)
    if version > 0:
        prev_path = os.path.join(log_dir, f"{version - 1:020d}.json")
        try:
            with open(prev_path) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    ci = a.get("commitInfo")
                    if ci and ci.get("inCommitTimestamp") is not None:
                        ict = max(ict, int(ci["inCommitTimestamp"]) + 1)
                    break
        except FileNotFoundError:
            pass  # vacuumed predecessor: wall clock stands
    return {
        "commitInfo": {
            "operation": operation,
            "engineInfo": "snapshot-export",
            "inCommitTimestamp": ict,
        }
    }


def export_delta_log(
    table, checkpoint_interval: int = 10,
    checkpoint_v2_threshold: int = 10_000,
    _retries: int = 10,
) -> int:
    """Publish a :class:`~.table.SnapshotTable`'s CURRENT snapshot as a
    real ``_delta_log`` under the table root, so any Delta client
    (delta-rs, Trino, Spark delta-io — or :func:`read_delta`) can read
    the table in place: zero data movement, the parquet files are shared
    byte-for-byte.

    Incremental: the first export writes version 0 (protocol + metaData
    + every live file); later exports replay the existing exported log
    and commit only the add/remove DIFF against the current snapshot —
    the same delta-sized metadata posture as the native commit log. A
    no-change export writes nothing. Returns the exported delta version.

    Every ``checkpoint_interval`` versions (spec-conventional default
    10) the export also writes a parquet CHECKPOINT of the full state
    plus ``_last_checkpoint``, so a foreign reader of a long exported
    history replays from the checkpoint instead of every JSON commit
    since 0 (and vacuumed early commits stay readable).
    ``checkpoint_interval=0`` disables. Checkpoints with more than
    ``checkpoint_v2_threshold`` actions write the V2 MANIFEST +
    SIDECAR layout instead of the classic single file
    (:func:`_write_checkpoint_v2` — the at-scale layout; the manifest
    protocol gains the ``v2Checkpoint`` feature declaration).

    Shape notes: SnapshotTable data files hold exactly the declared
    schema (the hash-bucket id lives in the directory name, not the
    rows), so the export declares no partition columns and empty
    ``partitionValues`` — semantically correct for any reader; bucket
    locality is an engine-side read optimization, not table state.
    Driver-side metadata only (KBs per commit).
    """
    import uuid

    root = table.root
    table._refresh()
    current = set(table._live)
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    schema_string = table.schema.json()
    dom: dict[str, str] = {}
    txns: dict[str, int] = {}
    if os.path.isdir(log_dir) and _delta_commits(log_dir):
        _meta, exported, _dvs, last = _replay_log(
            root, domains_out=dom, txns_out=txns
        )
        prev = set(exported)
        adds = sorted(current - prev)
        removes = sorted(prev - current)
        if not adds and not removes:
            return last
        if removes and str(
            (_meta.get("configuration") or {}).get("delta.appendOnly", "")
        ).lower() == "true":
            # the appendOnly writer feature's one obligation: a table
            # declaring delta.appendOnly=true forbids remove actions —
            # exporting a snapshot that dropped files would break the
            # table's contract with every downstream consumer built on
            # the append-only guarantee
            raise DeltaProtocolError(
                f"table declares delta.appendOnly=true but the export "
                f"diff removes {len(removes)} file(s) "
                f"({removes[:3]}{'...' if len(removes) > 3 else ''}); "
                "append-only tables refuse removes — export the "
                "mutated snapshot to a fresh root or drop the property"
            )
        version = last + 1
        # stamp ICTs only on logs that DECLARE the feature (a log
        # exported before ICT support keeps its old shape — enabling
        # mid-log would need the enablement-version properties)
        ict_on = str(
            (_meta.get("configuration") or {}).get(
                "delta.enableInCommitTimestamps", ""
            )
        ).lower() == "true"
        cdf_on = str(
            (_meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed", ""
            )
        ).lower() == "true"
        actions = [
            _ict_commit_info(log_dir, version)
            if ict_on
            else {"commitInfo": {"operation": "WRITE",
                                 "engineInfo": "snapshot-export"}}
        ]
        if _meta.get("schemaString") != schema_string:
            actions.append(
                _export_meta(schema_string, ict=ict_on, cdf=cdf_on)
            )
    else:
        os.makedirs(log_dir, exist_ok=True)
        version = 0
        adds = sorted(current)
        removes = []
        ict_on = cdf_on = True
        actions = [
            _ict_commit_info(log_dir, 0),
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["inCommitTimestamp",
                                             "changeDataFeed"]}},
            _export_meta(schema_string),
        ]
    if adds and removes and cdf_on:
        # a MERGE-shaped rewrite: the spec requires exact change files
        # — derived whole-file pairs would invent changes for every
        # carried row (see _export_change_data)
        actions.extend(
            _export_change_data(table, root, version, adds, removes)
        )
    for rel in removes:
        actions.append(
            {
                "remove": {
                    "path": rel,
                    # wall clock: vacuum_delta's retention horizon keys
                    # on this — a 0 stamp would make a just-removed
                    # file instantly collectable
                    "deletionTimestamp": int(_now_ms()),
                    "dataChange": True,
                }
            }
        )
    for rel in adds:
        a = table._live[rel]
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": _export_stats(a),
                }
            }
        )
    if not _publish_commit(log_dir, version, actions):
        # a FOREIGN writer claimed this version (exported logs are real
        # Delta tables — other engines may commit to them): rebase by
        # re-running the whole export, which re-replays the log
        # INCLUDING the foreign commit and re-diffs against the current
        # snapshot — an export is always a diff-to-current, so it
        # rebases cleanly over any foreign action (Delta's optimistic
        # concurrency loop). Bounded so a livelock surfaces honestly.
        if _retries <= 0:
            raise DeltaProtocolError(
                f"export_delta_log lost the commit race at version "
                f"{version} ten times in a row; a foreign writer is "
                "committing faster than the export can rebase"
            )
        return export_delta_log(
            table, checkpoint_interval, checkpoint_v2_threshold,
            _retries=_retries - 1,
        )
    if checkpoint_interval and version > 0 and version % checkpoint_interval == 0:
        # carry the log's DECLARED protocol and live domainMetadata
        # (harvested in the diff replay above — export commits never
        # write domains, so pre-commit state == post-commit state);
        # the legacy default {1, 2} would understate the export's
        # feature declaration once truncation removes v0
        _write_checkpoint_file(
            log_dir,
            version,
            _export_meta(schema_string, ict=ict_on, cdf=cdf_on)["metaData"],
            [
                {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 0,
                    "stats": _export_stats(table._live[rel]),
                }
                for rel in sorted(current)
            ],
            protocol=_declared_protocol(log_dir),
            domains=dom,
            v2_threshold=checkpoint_v2_threshold,
            txns=txns,
        )
    return version


def rename_delta_column(root: str, old: str, new: str) -> int:
    """RENAME a column — the operation COLUMN MAPPING exists for: a
    metadata-only commit changing the LOGICAL field name while the
    physical name (and field id) the data files store stays untouched,
    so zero bytes move at any table size. Requires the table to
    declare ``delta.columnMapping.mode`` ``name`` or ``id`` (without
    mapping, logical names ARE the storage names and a rename would
    need a full rewrite — refused with that guidance, the spec's own
    rule). Validates the old name exists and the new one doesn't.
    Returns the committed version. Driver-side metadata only."""
    meta, _live, _dvs, last = _replay_log(root)
    conf = dict(meta.get("configuration") or {})
    mode = str(conf.get("delta.columnMapping.mode", "none")).lower()
    if mode not in ("name", "id"):
        raise DeltaProtocolError(
            "rename_delta_column needs column mapping (mode 'name' or "
            "'id'): without it logical names ARE the parquet storage "
            "names, and a rename would require rewriting every file"
        )
    sj = json.loads(meta["schemaString"])
    names = [f["name"] for f in sj["fields"]]
    if old not in names:
        raise ValueError(f"rename: unknown column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"rename: column {new!r} already exists")
    for f in sj["fields"]:
        if f["name"] == old:
            f["name"] = new
    new_meta = {**meta, "schemaString": json.dumps(sj)}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    ict_on = str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() == "true"
    return _ddl_commit(log_dir, last, new_meta, "RENAME COLUMN", ict_on)


def _ddl_commit(
    log_dir: str, last: int, new_meta: dict, operation: str,
    ict_on: bool,
) -> int:
    """Shared metadata-only DDL commit loop (rename/drop/add): CAS at
    the next version, rebasing over foreign DATA commits but refusing
    a raced METADATA change."""
    version = last + 1
    for _attempt in range(10):
        actions = [
            _ict_commit_info(log_dir, version, operation=operation)
            if ict_on
            else {"commitInfo": {"operation": operation,
                                 "engineInfo": "snapshot-export"}},
            {"metaData": new_meta},
        ]
        if _publish_commit(log_dir, version, actions):
            return version
        if any("metaData" in a for a in _commit_actions(log_dir, version)):
            raise DeltaProtocolError(
                f"{operation} lost the commit race at version {version} "
                "to a concurrent METADATA change; re-run against the "
                "new schema"
            )
        version += 1
    raise DeltaProtocolError(
        f"{operation} lost the commit race ten times in a row"
    )


def _max_column_id(conf: dict, fields: list) -> int:
    """The highest column-mapping id EVER ISSUED: the declared
    ``delta.columnMapping.maxColumnId`` when present, else the max over
    current fields — a DROPPED field's id must never be reused (the
    spec's rule; reuse would resurrect the dropped column's bytes
    under the re-added column)."""
    declared = int(conf.get("delta.columnMapping.maxColumnId", 0) or 0)
    in_schema = max(
        (
            int((f.get("metadata") or {}).get(_ID_KEY, 0) or 0)
            for f in fields
        ),
        default=0,
    )
    return max(declared, in_schema)


def drop_delta_column(root: str, column: str) -> int:
    """DROP a column — metadata-only under COLUMN MAPPING (the data
    files keep their physical column; readers simply stop projecting
    it, zero bytes move at any table size). Refused without mapping
    (logical names ARE the storage names there — a drop would need a
    rewrite, the same rule as rename). The table's
    ``delta.columnMapping.maxColumnId`` is advanced past every issued
    id so a later :func:`add_delta_column` with the SAME NAME gets a
    FRESH id and physical name — the dropped column's bytes are NEVER
    resurrected (the spec's re-add rule; pinned by pytest). Returns
    the committed version."""
    meta, _live, _dvs, last = _replay_log(root)
    conf = dict(meta.get("configuration") or {})
    mode = str(conf.get("delta.columnMapping.mode", "none")).lower()
    if mode not in ("name", "id"):
        raise DeltaProtocolError(
            "drop_delta_column needs column mapping (mode 'name' or "
            "'id'): without it logical names ARE the parquet storage "
            "names, and a drop would require rewriting every file"
        )
    sj = json.loads(meta["schemaString"])
    names = [f["name"] for f in sj["fields"]]
    if column not in names:
        raise ValueError(f"drop: unknown column {column!r} (have {names})")
    if len(names) == 1:
        raise ValueError("drop: cannot remove the table's only column")
    # refuse while anything still REFERENCES the column (real Delta's
    # rule, and this repo's honest-gate posture: a metadata-only drop
    # that leaves a CHECK constraint / generation expression /
    # partition column dangling would brick every later write with a
    # raw unresolved-column error instead of failing here, named)
    ident = re.compile(rf"\b{re.escape(column)}\b")
    for key, expr in conf.items():
        if key.startswith("delta.constraints.") and ident.search(expr):
            raise DeltaProtocolError(
                f"cannot drop {column!r}: CHECK constraint "
                f"{key[len('delta.constraints.'):]!r} references it "
                f"({expr}); drop the constraint first"
            )
    for f in sj["fields"]:
        if f["name"] == column:
            continue
        md = f.get("metadata") or {}
        gexpr = md.get("delta.generationExpression")
        if gexpr and ident.search(gexpr):
            raise DeltaProtocolError(
                f"cannot drop {column!r}: generated column "
                f"{f['name']!r} derives from it ({gexpr})"
            )
        inv = md.get("delta.invariants")
        if inv and ident.search(
            inv if isinstance(inv, str) else json.dumps(inv)
        ):
            raise DeltaProtocolError(
                f"cannot drop {column!r}: column {f['name']!r} declares "
                "an invariant referencing it"
            )
    if column in (meta.get("partitionColumns") or []):
        raise DeltaProtocolError(
            f"cannot drop {column!r}: it is a partition column"
        )
    conf["delta.columnMapping.maxColumnId"] = str(
        _max_column_id(conf, sj["fields"])
    )
    sj["fields"] = [f for f in sj["fields"] if f["name"] != column]
    new_meta = {**meta, "schemaString": json.dumps(sj),
                "configuration": conf}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    ict_on = str(conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"
    return _ddl_commit(log_dir, last, new_meta, "DROP COLUMN", ict_on)


def add_delta_column(root: str, name: str, dtype: str) -> int:
    """ADD a nullable column at the end of the schema — metadata-only:
    files written before the commit simply lack it and read as NULL
    (Delta's add-column semantics need no mapping). Under COLUMN
    MAPPING the new field is issued a FRESH id (past
    ``delta.columnMapping.maxColumnId`` — never a dropped field's) and
    a fresh physical name, so re-adding a previously dropped name can
    never resurrect the old bytes. Returns the committed version."""
    import uuid as _uuid

    meta, _live, _dvs, last = _replay_log(root)
    conf = dict(meta.get("configuration") or {})
    mode = str(conf.get("delta.columnMapping.mode", "none")).lower()
    sj = json.loads(meta["schemaString"])
    names = [f["name"] for f in sj["fields"]]
    if name in names:
        raise ValueError(f"add: column {name!r} already exists")
    fld: dict = {"name": name, "type": dtype, "nullable": True,
                 "metadata": {}}
    if mode in ("name", "id"):
        new_id = _max_column_id(conf, sj["fields"]) + 1
        fld["metadata"] = {
            _ID_KEY: new_id,
            _PHYS_KEY: f"col-{_uuid.uuid4().hex[:12]}",
        }
        conf["delta.columnMapping.maxColumnId"] = str(new_id)
    sj["fields"].append(fld)
    new_meta = {**meta, "schemaString": json.dumps(sj),
                "configuration": conf}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    ict_on = str(conf.get("delta.enableInCommitTimestamps", "")
                 ).lower() == "true"
    return _ddl_commit(log_dir, last, new_meta, "ADD COLUMN", ict_on)


def widen_delta_column(root: str, column: str, to_type: str) -> int:
    """TYPE WIDENING (write side of the reader feature s39 exercises):
    a metadata-only commit that widens ``column`` to ``to_type`` and
    records the change in the field's ``delta.typeChanges`` metadata —
    existing files keep their narrow physical type (readers upcast
    natively; zero bytes move), later writers append the wide type.
    Only the spec's LEGAL widenings are accepted (integer-family
    upcasts, float->double, date->timestampNtz, scale-preserving
    decimal growth — :func:`_widening_ok`); anything else raises
    before a byte is written. The commit also upgrades the protocol to
    declare the ``typeWidening`` reader+writer feature when the table
    hasn't yet (spec obligation). Returns the committed version."""
    meta, _live, _dvs, last = _replay_log(root)
    sj = json.loads(meta["schemaString"])
    fld = next((f for f in sj["fields"] if f["name"] == column), None)
    if fld is None:
        raise ValueError(
            f"widen: unknown column {column!r} "
            f"(have {[f['name'] for f in sj['fields']]})"
        )
    from_type = fld["type"]
    if not isinstance(from_type, str):
        raise DeltaProtocolError(
            f"widen: column {column!r} has a nested type; type widening "
            "applies to primitive fields"
        )
    if not _widening_ok(from_type, to_type):
        raise DeltaProtocolError(
            f"{from_type!r} -> {to_type!r} is not a legal type widening "
            "(the reader would silently corrupt values; refused)"
        )
    md = dict(fld.get("metadata") or {})
    changes = list(md.get("delta.typeChanges") or [])
    changes.append({"fromType": from_type, "toType": to_type})
    md["delta.typeChanges"] = changes
    fld["metadata"] = md
    fld["type"] = to_type
    new_meta = {**meta, "schemaString": json.dumps(sj)}
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    proto = _declared_protocol(log_dir) or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    actions_proto = []
    if "typeWidening" not in rf:
        rf.add("typeWidening")
        wf.add("typeWidening")
        actions_proto.append(
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": sorted(rf),
                          "writerFeatures": sorted(wf)}}
        )
    conf = dict(meta.get("configuration") or {})
    ict_on = str(
        conf.get("delta.enableInCommitTimestamps", "")
    ).lower() == "true"
    version = last + 1
    for _attempt in range(10):
        actions = [
            _ict_commit_info(log_dir, version, operation="CHANGE COLUMN")
            if ict_on
            else {"commitInfo": {"operation": "CHANGE COLUMN",
                                 "engineInfo": "snapshot-export"}},
            *actions_proto,
            {"metaData": new_meta},
        ]
        if _publish_commit(log_dir, version, actions):
            return version
        if any("metaData" in a for a in _commit_actions(log_dir, version)):
            raise DeltaProtocolError(
                f"widen lost the commit race at version {version} to a "
                "concurrent METADATA change; re-run against the new schema"
            )
        version += 1
    raise DeltaProtocolError(
        "widen_delta_column lost the commit race ten times in a row"
    )


def clone_delta(src_root: str, dst_root: str) -> int:
    """SHALLOW CLONE — a new Delta table at ``dst_root`` whose v0
    references the SOURCE's current data files by ABSOLUTE path (the
    spec allows absolute ``add.path``; zero bytes copied): the clone
    reads as the source's snapshot and then evolves independently —
    commits to the clone's own ``_delta_log`` never touch the source,
    and later source commits never surface in the clone (the
    CLONE-then-diverge workflow real shallow clones serve: experiments
    and migrations over a 100 TB table at metadata cost).

    Carried state: the source's schema + configuration, its DECLARED
    protocol, live domainMetadata (clustering declaration, row-id
    watermark), and per-file stats / row-tracking stamps / deletion
    vectors. Relative DV references are ABSOLUTIZED ('u'-derived and
    'p'-relative descriptors become 'p'-absolute) — resolved against
    the clone root they would silently point at nothing. Refuses a
    ``dst_root`` that already holds a Delta log. Returns 0 (the
    clone's first version). Driver-side metadata only.

    Operational note (the same trade real shallow clones carry): the
    SOURCE's VACUUM does not know about the clone's references —
    vacuuming the source past the clone's creation breaks the clone's
    scans of the collected files."""
    src_root = os.path.abspath(src_root)
    stats: dict[str, str] = {}
    rowids: dict[str, tuple] = {}
    dom: dict[str, str] = {}
    meta, live, dvs, src_version = _replay_log(
        src_root, stats_out=stats, rowids_out=rowids, domains_out=dom
    )
    dst_log = os.path.join(dst_root, DELTA_LOG_DIR)
    if os.path.isdir(dst_log) and _delta_commits(dst_log):
        raise DeltaProtocolError(
            f"clone destination {dst_root} already holds a Delta log"
        )
    os.makedirs(dst_log, exist_ok=True)

    def _abs_dv(desc: dict) -> dict:
        st = desc.get("storageType")
        if st == "i":
            return dict(desc)  # inline: no file to resolve
        if st == "p":
            p = desc["pathOrInlineDv"]
            if os.path.isabs(p) or "://" in p:
                return dict(desc)
            return {**desc, "pathOrInlineDv": os.path.join(src_root, p)}
        if st == "u":
            import uuid as _uuid

            from .dv import z85_decode

            loc = desc["pathOrInlineDv"]
            prefix, enc = loc[:-20], loc[-20:]
            u = _uuid.UUID(bytes=z85_decode(enc))
            return {
                **desc,
                "storageType": "p",
                "pathOrInlineDv": os.path.join(
                    src_root, prefix, f"deletion_vector_{u}.bin"
                ),
            }
        raise DeltaProtocolError(
            f"unknown deletionVector storageType {st!r} in clone source"
        )

    proto = _declared_protocol(os.path.join(src_root, DELTA_LOG_DIR)) or {
        "minReaderVersion": 1, "minWriterVersion": 2,
    }
    actions: list[dict] = [
        {"commitInfo": {"operation": "CLONE",
                        "engineInfo": "snapshot-export",
                        "source": src_root,
                        "sourceVersion": src_version}},
        {"protocol": proto},
        {"metaData": {**meta, "id": f"clone-{os.path.basename(dst_root)}"}},
    ]
    for d, cfg in sorted(dom.items()):
        actions.append(
            {"domainMetadata": {"domain": d, "configuration": cfg,
                                "removed": False}}
        )
    for rel in sorted(live):
        abs_p = rel if os.path.isabs(rel) else os.path.join(src_root, rel)
        add = {
            "path": abs_p,
            "partitionValues": dict(live[rel] or {}),
            "size": os.path.getsize(abs_p) if os.path.exists(abs_p) else 0,
            "modificationTime": 0,
            "dataChange": True,
        }
        if rel in stats:
            add["stats"] = stats[rel]
        if rel in rowids:
            add["baseRowId"], add["defaultRowCommitVersion"] = rowids[rel]
        if rel in dvs:
            add["deletionVector"] = _abs_dv(dvs[rel])
        actions.append({"add": add})
    if not _publish_commit(dst_log, 0, actions):
        raise DeltaProtocolError(
            f"clone destination {dst_root} gained a commit concurrently"
        )
    return 0


def _export_stats(act) -> str:
    """The add action's Delta stats JSON for an exported file: the
    numRecords every reader expects plus minValues/maxValues from the
    footer stats SnapshotTable already harvested (``stats_cols``) — so
    a foreign Delta reader (or read_delta(predicates=)) can DATA-SKIP
    the exported table. Files without harvested stats export counts
    only (readers keep them, conservative)."""
    st: dict = {"numRecords": act.rows}
    if getattr(act, "stats", None):
        st["minValues"] = {c: mm[0] for c, mm in act.stats.items()}
        st["maxValues"] = {c: mm[1] for c, mm in act.stats.items()}
    return json.dumps(st)


def _export_meta(schema_string: str, ict: bool = True, cdf: bool = True) -> dict:
    # per-feature flags so a metaData REWRITE (schema change,
    # checkpoint) reproduces exactly what the log declares — a legacy
    # log exported before either feature keeps {}, an ICT-only log
    # must not gain CDF through a checkpoint (checkpoint metaData has
    # to match the log's), and fresh exports declare both from v0
    conf = {}
    if ict:
        conf["delta.enableInCommitTimestamps"] = "true"
    if cdf:
        conf["delta.enableChangeDataFeed"] = "true"
    return {
        "metaData": {
            "id": "snapshot-export",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": [],
            "configuration": conf,
        }
    }


def _export_change_data(table, root: str, version: int, adds, removes):
    """CHANGE DATA FILES for a rewrite commit (Delta spec "Change Data
    Files" / "Writer Requirements for Change Data Files"): a commit
    that both adds and removes data files is a MERGE-shaped rewrite,
    and deriving its CDF from whole files would surface every carried
    row as a spurious delete+insert pair. The exporter computes the
    EXACT images instead: the removed vs added rows full-outer-join on
    the table's ``bucket_key`` (changed rows emit update_preimage /
    update_postimage, new keys insert, gone keys delete, carried rows
    CANCEL), or a value-multiset diff (``exceptAll`` both ways ->
    insert/delete) for keyless tables. One Spark job over only the
    commit's touched files — delta-scale, never table-scale. Images
    land under ``_change_data/`` and the commit carries one ``cdc``
    action per part file (``dataChange: false``, the spec's shape), so
    any CDF reader — :func:`read_delta_changes` or a foreign engine —
    replays the merge exactly."""
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    spark = table.spark
    schema = table.schema
    cols = [f.name for f in schema.fields]
    old = spark.read.schema(schema).parquet(
        *[os.path.join(root, r) for r in removes]
    )
    new = spark.read.schema(schema).parquet(
        *[os.path.join(root, r) for r in adds]
    )
    keys = table.bucket_key
    if keys:
        # the keyed pairing assumes one row per key; SnapshotTable
        # append() doesn't enforce uniqueness, and a duplicate key
        # would fan the full-outer join out into invented images —
        # fall back to the multiset diff (exact, insert/delete only)
        dups = (
            old.groupBy(*keys).count()
            .unionByName(new.groupBy(*keys).count())
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dups:
            keys = None
    if keys:
        o = old.withColumn("__o", F.lit(True)).alias("o")
        n = new.withColumn("__n", F.lit(True)).alias("n")
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        j = o.join(n, cond, "full_outer")
        img_o = F.struct(*[F.col(f"o.{c}").alias(c) for c in cols])
        img_n = F.struct(*[F.col(f"n.{c}").alias(c) for c in cols])
        same = F.lit(True)
        for c in cols:
            if c not in keys:
                same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        elem_t = f"struct<t:string,img:{schema.simpleString()}>"
        chg = (
            F.when(
                F.col("o.__o").isNull(),
                F.array(
                    F.struct(F.lit("insert").alias("t"), img_n.alias("img"))
                ),
            )
            .when(
                F.col("n.__n").isNull(),
                F.array(
                    F.struct(F.lit("delete").alias("t"), img_o.alias("img"))
                ),
            )
            .when(
                ~same,
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("t"),
                        img_o.alias("img"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("t"),
                        img_n.alias("img"),
                    ),
                ),
            )
            .otherwise(F.array().cast(f"array<{elem_t}>"))
        )
        cdf = j.select(F.explode(chg).alias("c")).select(
            *[F.col(f"c.img.{c}").alias(c) for c in cols],
            F.col("c.t").alias("_change_type"),
        )
    else:
        cdf = new.exceptAll(old).select(
            "*", F.lit("insert").alias("_change_type")
        ).unionByName(
            old.exceptAll(new).select(
                "*", F.lit("delete").alias("_change_type")
            )
        )
    cdir = os.path.join(root, "_change_data")
    os.makedirs(cdir, exist_ok=True)
    stage = os.path.join(root, f".cdc-stage-{_uuid.uuid4().hex}")
    cdf.write.parquet(stage)
    parts = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    if not parts:
        # zero-row rewrite (pure compaction): an EMPTY change file must
        # still exist — a cdc-carrying commit means "these ARE the
        # changes", which here is none, instead of derived pairs
        local_frame(spark, [], cdf.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        parts = sorted(_glob.glob(os.path.join(stage, "part-*.parquet")))
    actions = []
    for i, part in enumerate(parts):
        rel = f"_change_data/cdc-{version:020d}-{i:05d}.parquet"
        _shutil.move(part, os.path.join(root, rel))
        actions.append(
            {
                "cdc": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "dataChange": False,
                }
            }
        )
    _shutil.rmtree(stage)
    return actions


def _mapping_info(spark: SparkSession, meta: dict, schema: StructType):
    """Column-mapping resolution shared by read_delta and the CDF read:
    returns (logical schema, SCAN schema, {logical -> scan column name},
    {logical -> partitionValues key}, logical partition columns).

    ``name`` mode scans the files' physical ``col-<uuid>`` schema and
    the caller restores logical names; ``id`` mode scans LOGICAL names
    annotated with parquet field ids (field-id resolution enabled on
    the session); partitionValues are keyed by PHYSICAL name under
    either mode (spec), and partitionColumns admit either spelling."""
    mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode == "name":
        # files store physical names: scan physically, restore logically
        phys_schema = _physical_type(schema)
    elif mode == "id":
        # files store physical names AND parquet field ids: scan with the
        # LOGICAL names annotated for field-id resolution (sticky session
        # conf — only schemas carrying the metadata are affected).
        # spark=None (the delta_stream source) skips the conf: its
        # per-file pyarrow reads resolve field ids themselves.
        if spark is not None:
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        phys_schema = _field_id_type(schema)
    else:
        phys_schema = schema
    #: logical top-level name -> SCAN column name (physical under name
    #: mode; logical otherwise)
    phys_of = {
        f.name: pf.name for f, pf in zip(schema.fields, phys_schema.fields)
    }
    logical_of = {v: k for k, v in phys_of.items()}
    #: logical -> the key partitionValues are stored under (the spec says
    #: PHYSICAL name under either mapping mode)
    if mode in ("name", "id"):
        pv_key_of = {
            f.name: (f.metadata or {}).get(_PHYS_KEY, f.name)
            for f in schema.fields
        }
    else:
        pv_key_of = {f.name: f.name for f in schema.fields}
    logical_of.update(
        (v, k) for k, v in pv_key_of.items() if v not in logical_of
    )
    # partitionColumns: writers serialize logical names; be lenient and
    # admit the physical spelling too (both resolve to the same column)
    part_cols = []
    for c in meta.get("partitionColumns") or []:
        if c in phys_of:
            part_cols.append(c)
        elif c in logical_of:
            part_cols.append(logical_of[c])
        else:
            raise DeltaProtocolError(
                f"partition column {c!r} not in the table schema "
                f"(logical {sorted(phys_of)})"
            )
    return schema, phys_schema, phys_of, pv_key_of, part_cols


def read_delta(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    partitions: dict[str, object] | None = None,
    timestamp: int | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
    row_tracking: bool = False,
) -> DataFrame:
    """Snapshot-read a Delta table: the live parquet files at ``version``
    (None = latest), with partition columns materialized from the log's
    ``partitionValues`` (cast from their string serialization to the
    declared schema types — the spec's serialization for numbers/dates/
    booleans round-trips through a string cast).

    ``partitions`` prunes at the METADATA level: ``{"seg": "A"}`` (or a
    list/set of admitted values per column) keeps only files whose
    logged partitionValues match, before Spark ever lists or plans them
    — at 100 TB the difference between scanning one day and scanning
    the table. Values are compared against the spec's STRING
    serialization (pass "42" or 42 interchangeably; None matches a null
    partition value). Unknown partition columns raise.

    Scale shape: ONE ``spark.read.parquet`` scan over all LIVE files
    regardless of partition cardinality — partition columns are attached
    by broadcast-joining a (file path -> partitionValues) frame against
    ``input_file_name()``, so a date-partitioned table with thousands of
    partition values still plans a single scan node (a per-partition
    union would grow the plan linearly in partition count and push
    Catalyst analysis into minutes). Dead files are never listed or
    opened, and the explicit read schema means no footer-sampling
    inference pass. Time travel is just replaying fewer JSON lines.

    DELETION VECTORS (the MERGE/DELETE shape every modern Delta writer
    produces) are APPLIED: each descriptor's roaring bitmap is decoded
    on EXECUTORS (sources/dv.py — Z85, DV-file framing, CRC; one task
    per descriptor) and the (file path, row index) pairs are LEFT
    ANTI-joined against the scan's parquet ``_metadata.row_index``,
    broadcast side = the decoded positions.

    ``predicates`` — conjunctive ``[(column, op, value), ...]`` with op
    in ``< <= = == >= >`` — DATA-SKIPS at the metadata level using the
    add actions' stats JSON (``minValues`` / ``maxValues``, the numbers
    every real Delta writer records): a file whose logged bounds
    provably exclude every matching row is never listed or planned,
    Delta's own data-skipping semantics. Files without stats (or with
    bounds the value type cannot compare against) are conservatively
    kept, so the result is always correct — pruning only shrinks the
    file list. Unknown columns / ops raise.

    ``row_tracking=True`` surfaces the ``rowTracking`` writer feature's
    ROW LINEAGE as ``_row_id`` / ``_row_commit_version``: fresh values
    are ``add.baseRowId + row position`` and
    ``add.defaultRowCommitVersion``; when the table declares
    MATERIALIZED lineage columns
    (``delta.rowTracking.materializedRow*ColumnName`` — written for
    rows carried across rewrites so their identity survives), the
    stored value wins and fresh computation is the per-row fallback —
    the spec's coalesce. Requires ``delta.enableRowTracking=true`` and
    resolvable stamps on every live file (else raise). DV-deleted rows
    vanish without renumbering survivors (positions are physical).
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version= or timestamp=, not both")
        version = version_at_timestamp(root, timestamp)
    stats_of: dict[str, str] = {}
    rowids: dict[str, tuple] = {}
    meta, live, dvs, _last = _replay_log(
        root, version, stats_out=stats_of, rowids_out=rowids
    )
    mat_id = mat_ver = None
    if row_tracking:
        conf = meta.get("configuration") or {}
        if str(conf.get("delta.enableRowTracking", "")).lower() != "true":
            raise DeltaProtocolError(
                "row_tracking=True but the table does not declare "
                "delta.enableRowTracking=true; no row lineage exists"
            )
        bad = [
            rel for rel in live
            if rowids.get(rel, (None, None))[0] is None
            or rowids.get(rel, (None, None))[1] is None
        ]
        if bad:
            raise DeltaProtocolError(
                "row_tracking=True but these live files carry no "
                f"baseRowId / defaultRowCommitVersion: {sorted(bad)[:3]}"
            )
        mat_id = conf.get("delta.rowTracking.materializedRowIdColumnName")
        mat_ver = conf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    schema, phys_schema, phys_of, pv_key_of, part_cols = _mapping_info(
        spark, meta, schema
    )
    data_fields = [
        pf for f, pf in zip(schema.fields, phys_schema.fields)
        if f.name not in part_cols
    ]
    data_schema = StructType(data_fields)
    if partitions:
        unknown = [c for c in partitions if c not in part_cols]
        if unknown:
            raise ValueError(
                f"partitions filter names non-partition columns {unknown} "
                f"(table partitionColumns: {part_cols})"
            )

        def _admits(want, got: str | None) -> bool:
            vals = want if isinstance(want, (list, set, tuple)) else [want]
            return any(
                (v is None and got is None)
                or (v is not None and got is not None and str(v) == got)
                for v in vals
            )

        live = {
            rel: pv
            for rel, pv in live.items()
            if all(
                _admits(want, pv.get(pv_key_of[c], pv.get(c)))
                for c, want in partitions.items()
            )
        }
    if predicates:
        live = _stats_skip(live, stats_of, predicates, schema, pv_key_of)
    lineage_fields = [
        ("_row_id", "long"),
        ("_row_commit_version", "long"),
    ]
    if not live:
        out_schema = schema
        if row_tracking:
            from pyspark.sql.types import LongType as _LT
            from pyspark.sql.types import StructField as _SF

            out_schema = StructType(
                list(schema.fields)
                + [_SF(n, _LT(), True) for n, _t in lineage_fields]
            )
        return local_frame(spark, [], out_schema)

    def _logical(out, extras=()):
        """Physical scan frame -> declared logical schema: one
        positional cast per top-level column renames nested fields.
        ``extras`` append already-aliased computed columns (lineage)."""
        return out.select(
            *[
                F.col(phys_of[f.name]).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            *extras,
        )

    from pyspark.sql.types import LongType, StringType, StructField

    phys_parts = [phys_of[c] for c in part_cols]
    key, posk = "__delta_input_file", "__delta_row_pos"
    while key in data_schema.names or key in phys_parts:
        key = "_" + key
    while posk in data_schema.names or posk in phys_parts:
        posk = "_" + posk
    read_schema = data_schema
    if row_tracking:
        # materialized lineage columns are HIDDEN physical columns:
        # absent from the logical schema, present in files whose rows
        # were carried across a rewrite; files without them read NULL
        # and the fresh computation fills in (the spec's coalesce)
        for mc in (mat_id, mat_ver):
            if mc and mc not in read_schema.names:
                read_schema = read_schema.add(
                    StructField(mc, LongType(), True)
                )
    dv_live = {rel: d for rel, d in dvs.items() if rel in live}
    paths = sorted(os.path.abspath(os.path.join(root, rel)) for rel in live)
    df = spark.read.schema(read_schema).parquet(*paths)
    if not part_cols and not dv_live and not row_tracking:
        return _logical(df)
    # scan-level bookkeeping columns, computed ONCE on the file source:
    # the normalized file path keys the DV anti-join, the partition-
    # value attach, and the row-lineage stamp join; input_file_name()
    # is the URI Spark read ("file:///a/b%20c.parquet") — decode ONLY
    # the percent-escapes (literal '+' survives) and strip the local
    # scheme to match the driver-side absolute paths
    from .io import decoded_file_path

    scan_cols = [
        F.col(f.name) for f in read_schema.fields
    ] + [decoded_file_path(F.input_file_name()).alias(key)]
    if dv_live or row_tracking:
        scan_cols.append(F.col("_metadata.row_index").alias(posk))
    df = df.select(*scan_cols)
    if dv_live:
        dels = _dv_positions_df(spark, root, dv_live, key, posk)
        df = df.join(F.broadcast(dels), [key, posk], "left_anti")
        if not row_tracking:
            df = df.drop(posk)
    rt_extras = ()
    if row_tracking:
        base_c, ver_c = key + "_rtbase", key + "_rtver"
        rt_df = local_frame(
            spark,
            [
                (
                    os.path.abspath(os.path.join(root, rel)),
                    int(rowids[rel][0]),
                    int(rowids[rel][1]),
                )
                for rel in live
            ],
            StructType(
                [
                    StructField(key, StringType(), False),
                    StructField(base_c, LongType(), False),
                    StructField(ver_c, LongType(), False),
                ]
            ),
        )
        df = df.join(F.broadcast(rt_df), key, "left")
        fresh_id = F.col(base_c) + F.col(posk)
        id_expr = (
            F.coalesce(F.col(mat_id).cast("long"), fresh_id)
            if mat_id
            else fresh_id
        )
        ver_expr = (
            F.coalesce(F.col(mat_ver).cast("long"), F.col(ver_c))
            if mat_ver
            else F.col(ver_c)
        )
        rt_extras = (
            id_expr.alias("_row_id"),
            ver_expr.alias("_row_commit_version"),
        )
    if not part_cols:
        return _logical(df, rt_extras)
    # ONE scan node for ANY partition cardinality: broadcast the
    # (absolute file path -> partitionValues string serialization) frame
    # — KBs of driver-built metadata — and join it on the scan's file
    # key; a union branch per partition tuple would grow the plan
    # linearly and stall Catalyst at thousands of partitions.
    pv_schema = StructType(
        [StructField(key, StringType(), False)]
        + [StructField(c, StringType(), True) for c in phys_parts]
    )

    def _pv(pv: dict, c: str):
        # add.partitionValues are keyed by PHYSICAL name under column
        # mapping (spec); admit the logical spelling leniently
        v = pv.get(pv_key_of[c], pv.get(c))
        return None if v is None else str(v)

    pv_rows = [
        tuple(
            [os.path.abspath(os.path.join(root, rel))]
            + [_pv(pv, c) for c in part_cols]
        )
        for rel, pv in live.items()
    ]
    pv_df = local_frame(spark, pv_rows, pv_schema)
    out = df.join(F.broadcast(pv_df), key, "left")
    return _logical(out, rt_extras)


from .io import SKIP_OPS as _SKIP_OPS  # shared with Hudi column_stats


def _stats_skip(
    live: dict[str, dict],
    stats_of: dict[str, str],
    predicates: list[tuple[str, str, object]],
    schema: StructType,
    pv_key_of: dict[str, str],
) -> dict[str, dict]:
    """Delta data skipping: drop live files whose add-action stats
    bounds (minValues/maxValues JSON) provably exclude every row
    matching the conjunctive predicates. Conservative by construction —
    missing stats, absent per-column bounds, or incomparable value
    types keep the file. Stats keys are PHYSICAL column names under
    column mapping (the spec's stats schema follows the files), so the
    logical predicate column resolves through the same mapping as
    partitionValues."""
    checked = []
    names = {f.name for f in schema.fields}
    for col, op, value in predicates:
        if op not in _SKIP_OPS:
            raise ValueError(
                f"unsupported predicate op {op!r} (have {_SKIP_OPS})"
            )
        if col not in names:
            raise ValueError(
                f"predicate names unknown column {col!r} "
                f"(schema columns: {sorted(names)})"
            )
        checked.append((pv_key_of.get(col, col), op, value))

    from .io import bounds_may_match

    def may_match(rel: str) -> bool:
        raw = stats_of.get(rel)
        if not raw:
            return True
        try:
            st = json.loads(raw)
        except ValueError:
            return True
        mins = st.get("minValues") or {}
        maxs = st.get("maxValues") or {}
        return all(
            bounds_may_match(mins.get(col), maxs.get(col), op, value)
            for col, op, value in checked
        )

    return {rel: pv for rel, pv in live.items() if may_match(rel)}


def _dv_positions_df(
    spark: SparkSession,
    root: str,
    dv_live: dict[str, dict],
    key: str,
    posk: str,
) -> DataFrame:
    """(file key, deleted row index) frame for the DV anti-join, with
    the roaring decode ON EXECUTORS at scale: the driver ships only the
    tiny (file path, descriptor JSON) spec — one input partition per
    descriptor — and mapInPandas fans each out to its deleted
    positions. A multi-million-position vector never materializes as a
    driver-side Python list (the broadcast build is Spark's own
    machinery over the decoded frame, not a driver loop). Vectors whose
    decoded rows fit under the broadcast bound decode on the driver
    (:func:`~..session.pandas_kernel`). The streaming source
    (delta_stream.py) applies the same per-file decode inside its
    partitions."""
    from pyspark.sql.types import LongType, StringType, StructField

    # structural gate stays on the DRIVER (cheap, no position decode):
    # an unknown storage flavor fails at read_delta() call time, not
    # deep inside a task
    for rel, desc in dv_live.items():
        st = desc.get("storageType")
        if st not in ("i", "u", "p"):
            raise ValueError(
                f"unknown deletionVector storageType {st!r} on {rel}"
            )
    items = sorted(dv_live.items())
    rows = [
        (os.path.abspath(os.path.join(root, rel)), json.dumps(desc))
        for rel, desc in items
    ]
    # input plus output bytes: the spec rows, and one (file key,
    # position) row per deleted position (each vector's cardinality)
    cards = [desc.get("cardinality") for _rel, desc in items]
    est = None if None in cards else sum(
        len(k) + len(dj) + int(c) * (len(k) + 8)
        for (k, dj), c in zip(rows, cards)
    )
    spec = local_frame(
        spark,
        rows, "__dv_key string, __dv_desc string"
    ).repartition(len(rows), "__dv_key")
    out_schema = StructType(
        [
            StructField(key, StringType(), False),
            StructField(posk, LongType(), False),
        ]
    )
    root_abs = os.path.abspath(root)

    def decode(iterator):
        import pandas as pd

        # imported INSIDE the worker: the decode must run where the
        # task runs, never via a driver-captured binding
        from predicting_hospital_readmission_using_mimic_database_spark.sources.dv import (
            read_dv_descriptor,
        )

        for pdf in iterator:
            for k, dj in zip(pdf["__dv_key"], pdf["__dv_desc"]):
                poss = read_dv_descriptor(json.loads(dj), root_abs)
                if poss:
                    yield pd.DataFrame(
                        {key: k, posk: pd.array(poss, dtype="int64")}
                    )

    return pandas_kernel(spec, decode, out_schema, est_bytes=est, spec=rows)


def read_delta_changes(
    spark: SparkSession,
    root: str,
    starting_version: int = 0,
    ending_version: int | None = None,
) -> DataFrame:
    """Delta CHANGE DATA FEED read (the protocol's "Change Data Files"
    section): the row-level changes committed in versions
    ``[starting_version, ending_version]`` (None = latest), each stamped
    with ``_change_type`` and ``_commit_version`` — how a downstream
    incrementally consumes a foreign Delta table without diffing
    snapshots.

    Per-version semantics, exactly the spec's:

    - a commit that wrote ``cdc`` actions (writers with
      ``delta.enableChangeDataFeed``) contributes ONLY its
      ``_change_data/`` files — they carry their own ``_change_type``
      (insert / delete / update_preimage / update_postimage);
    - a commit without cdc actions derives changes from its data
      actions: ``add`` files with dataChange are inserts, ``remove``
      files with dataChange are deletes, rows read from the (still
      on-disk) files themselves — a vacuumed change file raises with
      the version that needs it.

    COLUMN MAPPING (name and id modes) is supported the same way
    read_delta supports it: the scan uses the files' physical schema
    (or field-id-annotated logical schema) and the output projection
    restores logical names; partitionValues resolve through their
    physical keys. Honest gates: schema evolution INSIDE the range
    raises (a CDF batch must have one schema), and a dataChange
    add/remove carrying a deletion vector without accompanying cdc
    files raises (the row-level delta is not derivable from whole
    files).

    Scale shape: ONE parquet scan per file class (cdc files / plain
    data files) over ALL versions in the range; version, change type,
    and partition values attach via a broadcast (file -> manifest)
    join on ``input_file_name()`` — the same single-scan-node posture
    as :func:`read_delta`, so a 1000-commit range neither unions 1000
    branches nor re-lists anything. A file added in one version and
    removed in a later one is READ ONCE and fans out to both change
    rows through the join.
    """
    from pyspark.sql.types import LongType, StringType, StructField

    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {root}")
    commits = dict(_delta_commits(log_dir))
    if not commits:
        raise FileNotFoundError(f"no JSON commits in {log_dir}")
    end = int(ending_version) if ending_version is not None else max(commits)
    start = int(starting_version)
    if start > end:
        raise ValueError(f"starting_version {start} > ending_version {end}")
    meta, _live, _dvs, _last = _replay_log(root, end)
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    # column mapping supported the same way read_delta supports it:
    # scan the files' physical schema (or field-id-annotated logical
    # under id mode), restore logical names in the output projection
    schema, phys_schema, phys_of, pv_key_of, part_cols = _mapping_info(
        spark, meta, schema
    )
    data_schema = StructType(
        [
            pf for f, pf in zip(schema.fields, phys_schema.fields)
            if f.name not in part_cols
        ]
    )
    out_schema = StructType(
        list(schema.fields)
        + [
            StructField("_change_type", StringType(), True),
            StructField("_commit_version", LongType(), True),
        ]
    )
    manifest: list[tuple[str, int, str | None, dict]] = []
    # add-time partitionValues per live file: a remove written WITHOUT
    # extendedFileMetadata carries no partitionValues, and on a
    # partitioned table its derived 'delete' rows would silently get
    # NULL partition columns — fall back to the values the file was
    # ADDED with (log replay up to just before the range, then updated
    # by the range's own adds), and raise if neither side has them.
    pv_known: dict[str, dict] = {}
    if part_cols and start > 0:
        try:
            _m0, live0, _dv0, _l0 = _replay_log(root, start - 1)
        except DeltaProtocolError:
            # pre-range log vacuumed past a checkpoint inside the range:
            # seeding is best-effort — the per-remove raise below still
            # fires if a remove actually needs the missing values
            live0 = {}
        pv_known.update(live0)
    for v in range(start, end + 1):
        cpath = commits.get(v)
        if cpath is None:
            raise DeltaProtocolError(
                f"missing commit version {v} inside the requested CDF range "
                f"[{start}, {end}]"
            )
        cdc: list[dict] = []
        adds: list[dict] = []
        removes: list[dict] = []
        with open(cpath) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(action["protocol"])
                elif "metaData" in action:
                    # every metaData inside the range must agree with the
                    # end-of-range schema: a metaData that still differs
                    # is an evolution somewhere in (v, end] — comparing
                    # each against the END schema catches the change no
                    # matter which version carries it
                    m = _check_meta(action["metaData"])
                    if m.get("schemaString") != meta["schemaString"]:
                        raise DeltaProtocolError(
                            f"schema changed inside the CDF range (version "
                            f"{v} disagrees with version {end}); read the "
                            "sub-ranges on either side of the evolution "
                            "separately"
                        )
                elif "cdc" in action:
                    cdc.append(action["cdc"])
                elif "add" in action and action["add"].get("dataChange", True):
                    adds.append(action["add"])
                elif "remove" in action and action["remove"].get(
                    "dataChange", True
                ):
                    removes.append(action["remove"])
        if part_cols:
            for a in adds:
                pv_known[unquote(a["path"])] = a.get("partitionValues") or {}
        if cdc:
            for a in cdc:
                manifest.append(
                    (unquote(a["path"]), v, None, a.get("partitionValues") or {})
                )
        else:
            for a, ct in [(a, "insert") for a in adds] + [
                (r, "delete") for r in removes
            ]:
                if a.get("deletionVector"):
                    raise DeltaProtocolError(
                        f"version {v} changes a file through a deletion "
                        "vector without cdc files; the row-level change "
                        "set is not derivable from whole files"
                    )
                rel = unquote(a["path"])
                pv = a.get("partitionValues")
                # an explicit EMPTY dict on a partitioned table is the
                # same no-extendedFileMetadata shape as a missing field
                # (some serializers always emit the map) — both take
                # the add-time fallback instead of NULL partitions
                if not pv and part_cols:
                    pv = pv_known.get(rel)
                    if pv is None:
                        raise DeltaProtocolError(
                            f"version {v} removes {rel} without "
                            "partitionValues (no extendedFileMetadata) and "
                            "the file's add-time partition values are not "
                            "in the retained log; its delete rows' "
                            "partition columns cannot be reconstructed"
                        )
                manifest.append((rel, v, ct, pv or {}))
    if not manifest:
        return local_frame(spark, [], out_schema)
    for rel, v, _ct, _pv in manifest:
        if not os.path.exists(os.path.join(root, rel)):
            raise FileNotFoundError(
                f"change file {rel} needed by CDF version {v} is missing "
                "(vacuumed?)"
            )
    key = "__delta_cdf_file"
    while key in schema.names:
        key = "_" + key
    from .io import decoded_file_path

    decoded = decoded_file_path(F.input_file_name())
    scans = []
    cdc_paths = sorted(
        {os.path.abspath(os.path.join(root, r)) for r, _v, ct, _p in manifest
         if ct is None}
    )
    plain_paths = sorted(
        {os.path.abspath(os.path.join(root, r)) for r, _v, ct, _p in manifest
         if ct is not None}
    )
    if cdc_paths:
        cdc_schema = StructType(
            list(data_schema.fields)
            + [StructField("_change_type", StringType(), True)]
        )
        scans.append(
            spark.read.schema(cdc_schema)
            .parquet(*cdc_paths)
            .select("*", decoded.alias(key))
        )
    if plain_paths:
        scans.append(
            spark.read.schema(data_schema)
            .parquet(*plain_paths)
            .select(
                "*",
                F.lit(None).cast("string").alias("_change_type"),
                decoded.alias(key),
            )
        )
    df = scans[0]
    for s in scans[1:]:
        df = df.unionByName(s)
    man_schema = StructType(
        [
            StructField(key, StringType(), False),
            StructField("__cdf_version", LongType(), False),
            StructField("__cdf_ct", StringType(), True),
        ]
        + [StructField("__cdf_pv_" + c, StringType(), True) for c in part_cols]
    )
    def _pv_val(pv, c):
        # partitionValues are keyed by PHYSICAL name under mapping
        v = pv.get(pv_key_of[c], pv.get(c))
        return None if v is None else str(v)

    man_rows = [
        tuple(
            [os.path.abspath(os.path.join(root, rel)), v, ct]
            + [_pv_val(pv, c) for c in part_cols]
        )
        for rel, v, ct, pv in manifest
    ]
    man_df = local_frame(spark, man_rows, man_schema)
    joined = df.join(F.broadcast(man_df), key)
    out_cols = [
        (
            F.col("__cdf_pv_" + f.name).cast(f.dataType)
            if f.name in part_cols
            else F.col(phys_of[f.name]).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ] + [
        F.coalesce(F.col("_change_type"), F.col("__cdf_ct")).alias(
            "_change_type"
        ),
        F.col("__cdf_version").cast("long").alias("_commit_version"),
    ]
    return joined.select(*out_cols)


def truncate_delta_log(table_or_root, keep_versions: int = 10) -> list[int]:
    """TRUNCATE the log tail a checkpoint already covers — Delta's
    ``logRetentionDuration`` cleanup expressed in versions: JSON
    commits (and older checkpoints) BELOW the newest checkpoint that
    still serves the retention window are deleted, so a long-lived
    table's ``_delta_log`` stays O(checkpoint + recent tail) instead
    of one JSON per commit forever. ``keep_versions=N`` keeps time
    travel to the last N versions working; the actual cut lands on a
    CHECKPOINT boundary at or below that horizon (never beyond it —
    a version without a covering checkpoint is never orphaned).
    Returns the deleted JSON versions (empty when no checkpoint old
    enough exists — e.g. a log with no checkpoints at all).

    Readers gate honestly after the cut, with no new code paths:
    time travel below the cut raises the existing ``no usable parquet
    checkpoint at or below the requested version``; a CDF range
    reaching below it raises the existing ``missing commit version``;
    ``version_at_timestamp`` keeps resolving over the retained JSON
    tail (documented vacuumed-with-checkpoint behavior). The live
    snapshot and every retained version replay exactly as before —
    the checkpoint IS their state."""
    root = getattr(table_or_root, "root", table_or_root)
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    log_dir = os.path.join(root, DELTA_LOG_DIR)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a delta table (no {DELTA_LOG_DIR}): {root}")
    commits = _delta_commits(log_dir)
    if not commits:
        return []
    latest = commits[-1][0]
    horizon = max(latest - keep_versions + 1, 0)
    cps = _checkpoints(log_dir)
    v2cps = _v2_checkpoints(log_dir)
    usable = [v for v in set(cps) | set(v2cps) if v <= horizon]
    if not usable:
        return []  # nothing below the horizon is checkpoint-covered
    cut = max(usable)
    deleted: list[int] = []
    for v, path in commits:
        if v < cut:
            os.remove(path)
            deleted.append(v)
    # older checkpoints below the cut serve nothing anymore
    for v, parts in cps.items():
        if v < cut:
            for p in parts:
                os.remove(p)
    # V2 checkpoints: EVERY uniqueStr manifest of a dropped version is
    # deleted (not just the deterministic pick), and sidecar parquets
    # referenced ONLY by dropped manifests go too — the spec allows
    # sidecar sharing across checkpoints, so retained manifests' refs
    # pin theirs
    def _sidecars(fmt: str, path: str) -> set[str]:
        out: set[str] = set()

        def act(kind: str, row: dict) -> None:
            if kind != "sidecar":
                return
            sp = row["path"]
            if not os.path.isabs(sp) and "://" not in sp:
                sp = os.path.join(log_dir, "_sidecars", sp)
            out.add(os.path.abspath(sp))

        if fmt == "json":
            with open(path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        a = json.loads(line)
                        if "sidecar" in a:
                            act("sidecar", a["sidecar"])
        else:
            _read_action_parquet(path, ("sidecar",), act)
        return out

    v2_all: dict[int, list[tuple[str, str]]] = {}
    for name in sorted(os.listdir(log_dir)):
        m = _V2_CHECKPOINT_RE.match(name)
        if m:
            v2_all.setdefault(int(m.group(1)), []).append(
                (m.group(3), os.path.join(log_dir, name))
            )
    keep_sidecars: set[str] = set()
    for v, manifests in v2_all.items():
        if v >= cut:
            for fmt, p in manifests:
                keep_sidecars |= _sidecars(fmt, p)
    for v, manifests in v2_all.items():
        if v >= cut:
            continue
        drop: set[str] = set()
        for fmt, p in manifests:
            drop |= _sidecars(fmt, p)
            os.remove(p)
        for sp in sorted(drop - keep_sidecars):
            try:
                os.remove(sp)
            except FileNotFoundError:
                pass
    return deleted
