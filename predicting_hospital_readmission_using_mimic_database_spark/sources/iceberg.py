"""Apache Iceberg table READ interop — the second major lakehouse
format, implemented from the public spec (https://iceberg.apache.org/spec/)
with the stdlib Avro codec in :mod:`.avro_ocf` (Iceberg stores its
manifest lists and manifests as Avro).

Read path (all driver-side metadata until the final Spark scan):

1. resolve the CURRENT metadata JSON under ``<root>/metadata/`` —
   ``version-hint.text`` if present (HadoopTables), else the highest
   ``*.metadata.json`` by embedded version number;
2. pick the snapshot (``snapshot_id=`` time travel, default
   ``current-snapshot-id``), read its manifest LIST (Avro), then each
   manifest (Avro) — live files are the entries with status
   0 (existing) / 1 (added); status 2 (deleted) rows are tombstones;
3. hand Spark only those parquet files with the table schema converted
   from the Iceberg schema JSON (explicit read schema — no inference).

V2 POSITIONAL deletes (the most common row-level-delete shape in real
Iceberg tables — every MERGE/DELETE from Spark/Flink/Trino writes them)
are APPLIED, not gated: delete manifests (manifest-list ``content=1``)
list parquet delete files of ``(file_path, pos)`` rows; the reader
scans the data files with Spark's parquet ``_metadata.row_index``
(the in-file row ordinal — exactly the spec's ``pos``) and LEFT
ANTI-joins the normalized ``(file path, position)`` pairs, broadcast
by default (delete files are a small fraction of table size; pass
``broadcast_deletes=False`` for a shuffled anti-join when they are
not). Dead rows never reach the caller, data files are read once.

V2 EQUALITY deletes (Flink CDC's upsert shape) are applied too, with
the spec's sequence-number ordering — see :func:`read_iceberg`.
Equality ids may reference NESTED struct fields (the spec allows any
primitive field not under a repeated or map type): ids resolve to
dotted paths through struct nesting and the comparison happens at the
leaf, identically in the batch read, the changelog, and the stream.

Honest gates (raise, never silently wrong): format-version > 2,
equality deletes whose metadata lacks sequence numbers or whose
equality ids point under list/map types or at non-primitive fields,
non-parquet data or delete files,
and unsupported types. Column resolution is NAME-based
(the parquet files carry the names Iceberg wrote); field-id remapping
after a column RENAME is not implemented and the reader cannot detect
it — documented limitation, same posture as the Delta reader's column-
mapping gate.

Identity-partitioned tables read transparently: Iceberg writes source
columns INTO the data files (unlike Hive/Delta layouts), so no
partition-value materialization step is needed; the manifests'
partition summaries are still used for metadata-level pruning via
``partitions=``.

PARTITION TRANSFORMS (spec §Partition Transforms) are evaluated for
pruning: ``partitions=`` keys may name a SOURCE column of any
``bucket[N]`` / ``truncate[W]`` / ``year`` / ``month`` / ``day`` /
``hour`` / ``identity`` spec field — the reader applies the transform
(bucket uses the spec's 32-bit Murmur3 x86 hash, Appendix B) to the
wanted value(s) and admits only files whose stored partition tuple
matches on EVERY spec field derived from that source. Direct partition-
field-name keys keep working unchanged. Pruning through a transform is
metadata-only: at 100 TB a ``{"ts": "2024-03-05"}`` filter on a
day+bucket-partitioned table cuts the file list on the driver before
Spark plans a single task.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
from urllib.parse import unquote as _unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .avro_ocf import read_avro
from ..session import local_frame, pandas_kernel


class IcebergProtocolError(NotImplementedError):
    """The table requires read capabilities this interop layer does not
    implement (field-id remapping, unordered equality deletes,
    v3+)."""


#: spec-shaped manifest entry / manifest list schemas (unpartitioned
#: identity spec) — used by export_iceberg and by test fixtures
MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        # spec fields 3/4: null = inherit from the manifest-list record,
        # which the v2 spec grants only to ADDED (status-1) entries —
        # EXISTING/DELETED entries carried into a rewritten manifest
        # must stamp their original data sequence explicitly
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {
            "name": "file_sequence_number",
            "type": ["null", "long"],
            "default": None,
        },
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                    },
                    # spec fields 125/126/127/128: column bounds as
                    # array<struct<key:int, value:binary>> (Appendix D
                    # single-value serialization) — the per-file
                    # data-skipping tier read_iceberg(predicates=) uses
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k129_v130",
                                    "fields": [
                                        {"name": "key", "type": "int"},
                                        {"name": "value", "type": "bytes"},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                    },
                    # format-v3 row-lineage field (spec id 142): the
                    # row id of the file's FIRST row; null on ADDED
                    # entries = inherit from the manifest's first_row_id
                    # plus preceding record counts
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "default": None,
                    },
                    # format-v3 deletion-vector fields (spec ids 143-145)
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "default": None,
                    },
                    {
                        "name": "content_offset",
                        "type": ["null", "long"],
                        "default": None,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                        "default": None,
                    },
                ],
            },
        },
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        # v3 row lineage (spec id 520): first row id assigned to this
        # manifest's added data files
        {"name": "first_row_id", "type": ["null", "long"], "default": None},
        # spec field id 507: per-partition-field summaries, the
        # manifest-level pruning tier (see manifest_summary_filter)
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "field_summary",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                            },
                        ],
                    },
                },
            ],
            "default": None,
        },
    ],
}


def _metadata_path(root: str) -> str:
    mdir = os.path.join(root, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(f"not an iceberg table (no metadata/): {root}")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(mdir, cand)
            if os.path.exists(p):
                return p
    best: tuple[int, str] | None = None
    for name in os.listdir(mdir):
        if not name.endswith(".metadata.json"):
            continue
        m = re.match(r"^v?(\d+)", name)
        seq = int(m.group(1)) if m else -1
        if best is None or seq > best[0]:
            best = (seq, os.path.join(mdir, name))
    if best is None:
        raise FileNotFoundError(f"no *.metadata.json under {mdir}")
    return best[1]


def _latest_metadata_path(root: str) -> str | None:
    """The HIGHEST-numbered ``v*.metadata.json`` — the refresh a
    COMMITTER must perform before attempting its CAS (the
    ``version-hint.text`` is a reader convenience that may lag a
    just-landed foreign commit; basing a commit on it would retry
    against a stale version forever). ``None`` when the table has no
    metadata yet."""
    mdir = os.path.join(root, "metadata")
    if not os.path.isdir(mdir):
        return None
    best: tuple[int, str] | None = None
    for name in os.listdir(mdir):
        m = re.match(r"^v?(\d+)\.metadata\.json$", name)
        if m:
            seq = int(m.group(1))
            if best is None or seq > best[0]:
                best = (seq, os.path.join(mdir, name))
    return best[1] if best else None


def _localize(uri: str, root: str) -> str:
    """Manifest/data paths are URIs; map file: URIs to local paths and
    resolve relative ones against the table root."""
    if uri.startswith("file://"):
        return uri[len("file://"):]
    if uri.startswith("file:"):
        return uri[len("file:"):]
    if "://" in uri:
        return uri  # s3:// etc — hand to Spark's filesystem layer as-is
    if os.path.isabs(uri):
        return uri
    return os.path.join(root, uri)


# ---------------------------------------------------------------------------
# partition transforms (spec §Partition Transforms + Appendix B)
# ---------------------------------------------------------------------------


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant, the spec's Appendix B bucket hash),
    returned UNSIGNED. Spec test vectors pinned in
    tests/test_iceberg_interop.py: hash(int 34) = 2017239379,
    hash("iceberg") = 1210000089."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)
    for i in range(0, rounded, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[rounded:]
    k = 0
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _as_datetime(value):
    from datetime import date, datetime

    if isinstance(value, datetime):
        return value
    if isinstance(value, date):
        return datetime(value.year, value.month, value.day)
    if isinstance(value, str):
        v = value.replace("T", " ")
        for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return datetime.strptime(v, fmt)
            except ValueError:
                continue
    raise ValueError(f"cannot interpret {value!r} as a date/timestamp")


def _bucket_hash(value) -> int:
    """Appendix B serialization: int/long/date/time/timestamp hash as
    the little-endian 8-byte long, strings as UTF-8 bytes."""
    from datetime import date, datetime

    if isinstance(value, bool):
        raise IcebergProtocolError("bucket transform over boolean is not defined")
    if isinstance(value, int):
        return murmur3_32(value.to_bytes(8, "little", signed=True))
    if isinstance(value, str):
        return murmur3_32(value.encode("utf-8"))
    if isinstance(value, (bytes, bytearray)):
        return murmur3_32(bytes(value))
    if isinstance(value, datetime):
        epoch = datetime(1970, 1, 1)
        us = round((value - epoch).total_seconds() * 1_000_000)
        return murmur3_32(int(us).to_bytes(8, "little", signed=True))
    if isinstance(value, date):
        days = (value - date(1970, 1, 1)).days
        return murmur3_32(days.to_bytes(8, "little", signed=True))
    raise IcebergProtocolError(
        f"bucket transform over {type(value).__name__} is not supported"
    )


def transform_value(transform: str, value):
    """Apply an Iceberg partition transform to a SOURCE value, returning
    the partition value a conforming writer would store. None propagates
    (all transforms map null to null)."""
    if value is None:
        return None
    t = str(transform).lower()
    if t == "identity":
        return value
    if t == "void":
        return None
    m = re.fullmatch(r"bucket\[(\d+)\]", t)
    if m:
        return (_bucket_hash(value) & 0x7FFFFFFF) % int(m.group(1))
    m = re.fullmatch(r"truncate\[(\d+)\]", t)
    if m:
        w = int(m.group(1))
        if w <= 0:
            raise ValueError(f"truncate width must be positive: {transform}")
        if isinstance(value, bool):
            raise IcebergProtocolError("truncate over boolean is not defined")
        if isinstance(value, int):
            return value - (value % w)  # Python % floors: spec semantics
        if isinstance(value, str):
            return value[:w]
        if isinstance(value, (bytes, bytearray)):
            return bytes(value)[:w]
        raise IcebergProtocolError(
            f"truncate over {type(value).__name__} is not supported"
        )
    if t in ("year", "month", "day", "hour"):
        from datetime import date, datetime

        dt = _as_datetime(value)
        if t == "year":
            return dt.year - 1970
        if t == "month":
            return (dt.year - 1970) * 12 + dt.month - 1
        if t == "day":
            return (dt.date() - date(1970, 1, 1)).days
        epoch = datetime(1970, 1, 1)
        return int((dt - epoch).total_seconds() // 3600)
    raise IcebergProtocolError(f"unsupported partition transform {transform!r}")


def _spec_source_map(meta: dict) -> dict:
    """source column name -> [(partition field name, transform), ...]
    across ALL partition specs in the metadata (a file is only pruned on
    fields present in its own stored partition tuple, so a union over
    specs is safe)."""
    id2name = {}
    for sch in meta.get("schemas", []):
        for f in sch.get("fields", []):
            id2name[f.get("id")] = f.get("name")
    out: dict = {}
    for spec in meta.get("partition-specs", []):
        for f in spec.get("fields", []):
            src = id2name.get(f.get("source-id"))
            if src and f.get("name"):
                ent = (f["name"], f.get("transform", "identity"))
                out.setdefault(src, [])
                if ent not in out[src]:
                    out[src].append(ent)
    return out


def _spark_type(t) -> T.DataType:
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"], _spark_type(f["type"]), not f.get("required", False)
                    )
                    for f in t["fields"]
                ]
            )
        if kind == "list":
            return T.ArrayType(
                _spark_type(t["element"]), not t.get("element-required", False)
            )
        if kind == "map":
            return T.MapType(
                _spark_type(t["key"]),
                _spark_type(t["value"]),
                not t.get("value-required", False),
            )
        raise IcebergProtocolError(f"unsupported nested type {kind!r}")
    m = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
    }
    if t in m:
        return m[t]
    dm = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
    if dm:
        return T.DecimalType(int(dm.group(1)), int(dm.group(2)))
    fm = re.match(r"^fixed\[(\d+)\]$", t)
    if fm:
        return T.BinaryType()
    raise IcebergProtocolError(f"unsupported iceberg type {t!r}")


def _table_schema(meta: dict) -> T.StructType:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return _spark_type(s)
        raise ValueError(f"current-schema-id {sid} not in schemas")
    return _spark_type(meta["schema"])  # format v1


def _iceberg_type(dt: T.DataType) -> object:
    m = {
        T.BooleanType: "boolean",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampNTZType: "timestamp",
        T.TimestampType: "timestamptz",
        T.StringType: "string",
        T.BinaryType: "binary",
    }
    for k, v in m.items():
        if isinstance(dt, k):
            return v
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise IcebergProtocolError(f"export: unsupported spark type {dt}")


def _max_field_id(fields: list[dict]) -> int:
    """Largest field id anywhere in an Iceberg field list, including
    ids carried INSIDE nested struct/list/map types — what
    ``last-column-id`` must cover after an evolution commit."""
    best = 0

    def walk_type(t) -> None:
        nonlocal best
        if not isinstance(t, dict):
            return
        kind = t.get("type")
        if kind == "struct":
            for f in t.get("fields", []):
                best = max(best, int(f["id"]))
                walk_type(f["type"])
        elif kind == "list":
            best = max(best, int(t.get("element-id", 0)))
            walk_type(t.get("element"))
        elif kind == "map":
            best = max(best, int(t.get("key-id", 0)), int(t.get("value-id", 0)))
            walk_type(t.get("key"))
            walk_type(t.get("value"))

    for f in fields:
        best = max(best, int(f["id"]))
        walk_type(f["type"])
    return best


def _iceberg_struct_fields(
    st: T.StructType, next_id: list[int]
) -> list[dict]:
    """Iceberg field list for a Spark struct with DETERMINISTIC id
    assignment, the shape real writers produce: a struct's DIRECT
    fields are numbered first in declaration order, then each field's
    nested types are visited in turn (so a flat schema keeps the
    historical 1..n ids existing fixtures thread identity through,
    and nested ids are predictable for evolution commits).
    ``next_id`` is a one-slot mutable counter."""
    ids = []
    for _f in st.fields:
        ids.append(next_id[0])
        next_id[0] += 1
    out = []
    for f, fid in zip(st.fields, ids):
        out.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": _iceberg_type_ids(f.dataType, next_id),
            }
        )
    return out


def _iceberg_type_ids(dt: T.DataType, next_id: list[int]):
    """Iceberg type JSON for a Spark type, allocating element/key/value
    and struct-member ids from the shared counter (nested types carry
    their own field ids in the spec)."""
    if isinstance(dt, T.StructType):
        return {"type": "struct", "fields": _iceberg_struct_fields(dt, next_id)}
    if isinstance(dt, T.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type_ids(dt.elementType, next_id),
            "element-required": False,
        }
    if isinstance(dt, T.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type_ids(dt.keyType, next_id),
            "value-id": vid,
            "value": _iceberg_type_ids(dt.valueType, next_id),
            "value-required": False,
        }
    return _iceberg_type(dt)


def export_iceberg(
    table, _retries: int = 10, branch: str | None = None,
    wap_id: str | None = None,
) -> int:
    """Publish a :class:`~.table.SnapshotTable`'s CURRENT snapshot as a
    real Iceberg v2 table under the table root — zero data movement
    (parquet files shared byte-for-byte), so pyiceberg/Trino/Spark's
    iceberg runtime (or :func:`read_iceberg`) can read it in place.

    Each export appends ONE Iceberg snapshot INCREMENTALLY: a new
    manifest listing only the files ADDED since the previous export,
    manifests containing REMOVED files rewritten with status-2
    tombstones (live entries carried as status 0), and every untouched
    manifest REUSED by path in the new manifest list — per-export
    metadata cost is O(changed files + touched manifests), not
    O(snapshots x files). A manifest list, a new ``vN.metadata.json``
    carrying the whole snapshot lineage, and an updated
    ``version-hint.text`` complete the commit; a no-change export
    writes nothing. Earlier exported snapshots stay time-travelable
    (their lists still reference the OLD manifest files, which are
    never mutated in place). Returns the exported snapshot id.
    Unpartitioned spec (bucket locality is an engine-side read
    optimization, not table state — same posture as the Delta
    export).

    Tables created with ``stats_cols`` publish per-file COLUMN BOUNDS
    (``lower_bounds``/``upper_bounds``, Appendix D single-value
    binaries keyed by field id) in every added manifest entry — the
    data-skipping tier ``read_iceberg(predicates=)`` and real Iceberg
    engines prune on — at zero extra I/O (the ranges already live in
    the commit log's harvested footer stats).

    ``branch`` STAGES the commit on a named branch ref instead of
    advancing main — the write half of WRITE-AUDIT-PUBLISH (Iceberg's
    ``spark.wap.branch``): the new snapshot lands in the metadata's
    snapshot list and the branch ref moves to it, but
    ``current-snapshot-id`` (what every plain read serves) stays put.
    Audit via ``read_iceberg(ref=branch)``; publish via
    :func:`publish_iceberg_wap`; reject via :func:`drop_iceberg_ref`
    (the staged snapshot becomes unreferenced and expirable). The diff
    base is the BRANCH head when the branch exists (consecutive staged
    commits chain), else current main. Staging on a never-exported
    table raises — WAP audits changes AGAINST a published table.

    ``wap_id`` is the OTHER WAP flavor (Iceberg's ``spark.wap.id`` /
    ``write.wap.enabled``): the snapshot lands in the metadata with
    ``"wap.id"`` in its summary and NO ref — main never moves, the
    audit reads ``snapshot_id=<returned id>``, and
    :func:`publish_iceberg_wap(root, wap_id=...)` cherry-picks it by
    id (refusing a double publish). Unreferenced staged snapshots are
    expirable, exactly real Iceberg's behavior; a NO-CHANGE wap stage
    returns the base with nothing to publish (use the branch flavor
    for no-op-tolerant pipelines). Mutually exclusive with
    ``branch``."""
    import time
    import uuid as _uuid

    from .avro_ocf import write_avro

    # ATTEMPT-unique manifest names (real Iceberg's
    # snap-{sid}-{attempt}-{uuid} convention): two committers racing on
    # the same next snapshot id must never overwrite each other's
    # manifest files — only the metadata CAS decides the winner, and
    # the loser's files are unreferenced orphans
    attempt = _uuid.uuid4().hex[:12]
    if branch is not None and wap_id is not None:
        raise ValueError("branch and wap_id are mutually exclusive")
    root = table.root
    table._refresh()
    live = sorted(table._live.items())
    live_paths = {os.path.join(root, rel) for rel, _a in live}
    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)
    prev_meta = None
    # committer refresh: the LATEST metadata by version number, never
    # the reader hint — a stale hint after a foreign commit would make
    # every CAS retry re-attempt the same taken version
    latest = _latest_metadata_path(root)
    if latest is not None:
        with open(latest) as f:
            prev_meta = json.load(f)
    snapshots = list(prev_meta.get("snapshots", [])) if prev_meta else []
    if (branch is not None or wap_id is not None) and not snapshots:
        raise IcebergProtocolError(
            f"cannot stage {('on branch ' + repr(branch)) if branch else ('wap.id ' + repr(wap_id))}: "
            "the table was never exported — WAP audits changes against "
            "a published table (export to main first)"
        )
    carried: list[dict] = []
    prev_files: set[str] = set()
    base_sid = None
    if snapshots:
        last_id = max(s["snapshot-id"] for s in snapshots)
        prev_refs = dict(prev_meta.get("refs") or {})
        base_sid = int(prev_meta["current-snapshot-id"])
        if branch is not None and branch in prev_refs:
            if prev_refs[branch].get("type") != "branch":
                raise IcebergProtocolError(
                    f"ref {branch!r} is a tag, not a branch — tags pin "
                    "snapshots forever and cannot receive staged commits"
                )
            # consecutive staged commits CHAIN on the branch head
            base_sid = int(prev_refs[branch]["snapshot-id"])
        cur = next(
            s for s in snapshots
            if s["snapshot-id"] == base_sid
        )
        _s, prev_manifests = read_avro(_localize(cur["manifest-list"], root))
        per_manifest: list[tuple[dict, list | None]] = []
        for mrec in prev_manifests:
            if mrec.get("content", 0) == 1:
                # DELETE manifests (position/equality delete files) are
                # not data: carry them as-is, never tombstone them
                per_manifest.append((mrec, None))
                continue
            _s2, entries = read_avro(_localize(mrec["manifest_path"], root))
            live_entries = [e for e in entries if e.get("status", 0) != 2]
            per_manifest.append((mrec, live_entries))
            prev_files.update(
                e["data_file"]["file_path"] for e in live_entries
            )
        if prev_files == live_paths:
            # no change since the base snapshot. A BRANCH stage must
            # still materialize the ref (an idempotent re-stage of a
            # no-op upstream run must leave the audit->publish pipeline
            # runnable, auditing/publishing the base snapshot) — a
            # plain export just returns.
            if branch is not None and branch not in prev_refs:
                set_iceberg_ref(root, branch, snapshot_id=base_sid,
                                type="branch")
            return base_sid
        sid = last_id + 1
        # next version: past BOTH the recorded export version and the
        # latest metadata FILE's number (a foreign commit's metadata
        # carries no _export_version; basing the CAS below its number
        # would collide forever)
        m = re.match(r"^v?(\d+)\.metadata\.json$", os.path.basename(latest))
        file_v = int(m.group(1)) if m else 0
        version = max(
            int(prev_meta.get("_export_version", len(snapshots))), file_v
        ) + 1
        for mi, (mrec, live_entries) in enumerate(per_manifest):
            if live_entries is None:
                carried.append(dict(mrec))  # delete manifest: as-is
                continue
            dead = [
                e for e in live_entries
                if e["data_file"]["file_path"] not in live_paths
            ]
            if not dead:
                carried.append(dict(mrec))  # untouched: reuse by path
                continue
            # rewrite ONLY this manifest: survivors as status-0
            # existing entries (their original snapshot), removed files
            # as status-2 tombstones stamped with the new snapshot.
            # Both carry an EXPLICIT sequence number — the entry's own
            # when present, else the carried manifest's — because
            # manifest-list inheritance only applies to ADDED entries
            # (v2 spec), and a foreign reader of a bare status-0 entry
            # would otherwise see no data sequence at all.
            mseq = mrec.get("sequence_number")

            def _stamped(e: dict, **over) -> dict:
                seq = e.get("sequence_number")
                seq = mseq if seq is None else seq
                fseq = e.get("file_sequence_number")
                return {
                    **e,
                    "sequence_number": seq,
                    "file_sequence_number": seq if fseq is None else fseq,
                    **over,
                }

            rewritten = os.path.join(
                mdir, f"manifest-{sid}-rw{mi}-{attempt}.avro"
            )
            write_avro(
                rewritten,
                MANIFEST_ENTRY_SCHEMA,
                [
                    _stamped(e, status=0)
                    for e in live_entries
                    if e["data_file"]["file_path"] in live_paths
                ]
                + [_stamped(e, status=2, snapshot_id=sid) for e in dead],
            )
            carried.append(
                {
                    **mrec,
                    "manifest_path": rewritten,
                    "manifest_length": os.path.getsize(rewritten),
                }
            )
    else:
        sid, version = 1, 1
    added = [
        (rel, act) for rel, act in live
        if os.path.join(root, rel) not in prev_files
    ]
    mf_records = list(carried)
    _next = [1]
    fields = _iceberg_struct_fields(table.schema, _next)
    if added:
        # per-file column bounds (spec Appendix D) from the table's
        # harvested footer stats: the data-skipping tier
        # read_iceberg(predicates=) — and any real Iceberg engine —
        # prunes on, written at zero extra I/O (the stats already live
        # in the commit log). Columns without stats carry no bound.
        top_info = {f["name"]: (f["id"], f["type"]) for f in fields}

        def _entry_bounds(stats: dict):
            lo, hi = [], []
            for col, rng in (stats or {}).items():
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

        manifest = os.path.join(mdir, f"manifest-{sid}-{attempt}.avro")
        entries = []
        for rel, act in added:
            b_lo, b_hi = _entry_bounds(getattr(act, "stats", None))
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "data_file": {
                        "content": 0,
                        "file_path": os.path.join(root, rel),
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": act.rows,
                        "file_size_in_bytes": os.path.getsize(
                            os.path.join(root, rel)
                        ),
                        "equality_ids": None,
                        "lower_bounds": b_lo,
                        "upper_bounds": b_hi,
                    },
                }
            )
        write_avro(manifest, MANIFEST_ENTRY_SCHEMA, entries)
        mf_records.append(
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": sid,
                # v2 sequence number: entries inherit it, and equality-
                # delete ordering (data_seq < delete_seq) depends on it
                "sequence_number": sid,
            }
        )
    mlist = os.path.join(mdir, f"snap-{sid}-{attempt}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [{"sequence_number": None, **m} for m in mf_records],
    )
    snap_rec = {
        "snapshot-id": sid,
        "timestamp-ms": int(time.time() * 1000),
        # append-only changes are real APPEND snapshots (the shape
        # the incremental/streaming scan consumes); anything that
        # removed files is an overwrite
        "summary": {
            "operation": "append" if prev_files <= live_paths else "overwrite"
        },
        "manifest-list": mlist,
        "schema-id": 0,
    }
    if base_sid is not None:
        # ancestry: publish_iceberg_wap's fast-forward validation walks
        # this chain; real Iceberg records it on every snapshot
        snap_rec["parent-snapshot-id"] = base_sid
    if wap_id is not None:
        # the stage marker publish_iceberg_wap(wap_id=) resolves by
        snap_rec["summary"]["wap.id"] = str(wap_id)
    snapshots.append(snap_rec)
    last_col_id = _next[0] - 1
    meta = {
        "format-version": 2,
        "table-uuid": "snapshot-export",
        "location": root,
        "last-sequence-number": sid,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": last_col_id,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": fields}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "snapshots": snapshots,
        "current-snapshot-id": (
            prev_meta["current-snapshot-id"]
            if (branch is not None or wap_id is not None)
            else sid
        ),
        "_export_version": version,
    }
    if prev_meta and prev_meta.get("refs"):
        # named refs (tags/branches) are table state the export must
        # CARRY — a tag set between exports pins its snapshot through
        # expiry, and dropping it silently would unpin history
        meta["refs"] = dict(prev_meta["refs"])
    if branch is not None:
        refs = dict(meta.get("refs") or {})
        refs[branch] = {"snapshot-id": sid, "type": "branch"}
        meta["refs"] = refs
    try:
        # Iceberg's commit IS a compare-and-swap on the metadata
        # pointer: claiming vN.metadata.json must be put-if-absent, or
        # a concurrent committer's snapshot would be silently clobbered
        with open(
            os.path.join(mdir, f"v{version}.metadata.json"), "x"
        ) as f:
            json.dump(meta, f)
    except FileExistsError:
        # a FOREIGN writer took this version: the format's rule is
        # refresh-and-reattempt — re-run the export, which re-reads the
        # current metadata (now including the foreign snapshot) and
        # re-diffs against the table's live set. Bounded so a livelock
        # surfaces honestly. This attempt's manifest/manifest-list
        # files (all named ``*-{attempt}.avro``) are unreferenced by
        # any committed metadata — delete them now; orphan GC only
        # scans data/, so leaving them would leak one avro set per
        # lost CAS forever.
        import glob as _glob

        for stale in _glob.glob(os.path.join(mdir, f"*-{attempt}.avro")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(stale)
        if _retries <= 0:
            raise IcebergProtocolError(
                f"export_iceberg lost the metadata CAS at version "
                f"{version} ten times in a row; a foreign writer is "
                "committing faster than the export can refresh"
            ) from None
        return export_iceberg(
            table, _retries=_retries - 1, branch=branch, wap_id=wap_id
        )
    _advance_version_hint(mdir, version)
    return sid


def _advance_version_hint(mdir: str, version: int) -> None:
    """Write ``version-hint.text`` MONOTONICALLY (read-compare-replace):
    two near-simultaneous CAS winners can reach the hint write out of
    order, and an unconditional replace would regress the hint to the
    older version — readers trusting the hint first would then serve a
    stale snapshot. Never authoritative (readers fall back to file
    enumeration), so the remaining read-write race window only costs a
    re-scan, never a wrong answer."""
    hint = os.path.join(mdir, "version-hint.text")

    def _recorded() -> int:
        try:
            with open(hint) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    # bounded retry closes most of the read-compare-replace window:
    # after os.replace, re-read — if the hint changed underneath to a
    # HIGHER value than ours while we were writing, a slower writer
    # regressing it is impossible (we only ever re-write our own
    # value when the observed hint is lower). The residual window
    # (two writers replacing back-to-back between each other's
    # re-reads) stays documented-acceptable: readers fall back to
    # enumeration.
    for _ in range(4):
        if version <= _recorded():
            return
        tmp = os.path.join(mdir, f".hint.{os.getpid()}.{version}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)
        if _recorded() >= version:
            return


def iceberg_snapshots(root: str) -> list[dict]:
    """(snapshot-id, timestamp-ms, operation) per snapshot — the
    DESCRIBE HISTORY surface."""
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s.get("timestamp-ms"),
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]


def iceberg_meta_table(
    spark: SparkSession,
    root: str,
    kind: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg INSPECTION metadata tables — the ``SELECT * FROM
    t.files`` / ``t.snapshots`` / ``t.history`` surface every Iceberg
    operator leans on for ops. Pure projections of the same driver-side
    metadata the read path replays (manifest list + manifests; no data
    file is touched):

    - ``snapshots``: one row per snapshot in the metadata
      (snapshot_id, timestamp_ms, operation, manifest_list);
    - ``history``: (timestamp_ms, snapshot_id, is_current);
    - ``manifests``: the chosen snapshot's manifest-list records;
    - ``files`` / ``delete_files``: live manifest entries of the chosen
      snapshot (status != 2), data vs delete content, with the
      partition tuple as a string map and inherited sequence numbers;
    - ``partitions``: per-partition rollup of the data files
      (file_count, record_count, total_size_in_bytes);
    - ``refs``: named branches/tags;
    - ``statistics``: the spec's table-statistics files (Puffin blob
      metadata per snapshot; blob decode not offered).

    ``snapshot_id`` picks the snapshot for manifests/files views
    (default current). At 100 TB these stay KB–MB driver frames —
    that is the point of Iceberg's metadata tree."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType as ST,
    )

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) > 3:
        raise IcebergProtocolError(
            f"format-version {meta['format-version']} > 3 is not supported"
        )
    snaps = meta.get("snapshots", [])
    if kind == "snapshots":
        schema = ST(
            [
                StructField("snapshot_id", LongType(), False),
                StructField("timestamp_ms", LongType(), True),
                StructField("operation", StringType(), True),
                StructField("manifest_list", StringType(), True),
            ]
        )
        rows = [
            (
                int(s["snapshot-id"]),
                s.get("timestamp-ms"),
                (s.get("summary") or {}).get("operation"),
                s.get("manifest-list"),
            )
            for s in snaps
        ]
        return local_frame(spark, rows, schema)
    if kind == "history":
        cur = meta.get("current-snapshot-id")
        schema = ST(
            [
                StructField("timestamp_ms", LongType(), True),
                StructField("snapshot_id", LongType(), False),
                StructField("is_current", BooleanType(), False),
            ]
        )
        rows = [
            (s.get("timestamp-ms"), int(s["snapshot-id"]),
             s["snapshot-id"] == cur)
            for s in snaps
        ]
        return local_frame(spark, rows, schema)
    if kind == "refs":
        schema = ST(
            [
                StructField("name", StringType(), False),
                StructField("type", StringType(), True),
                StructField("snapshot_id", LongType(), True),
            ]
        )
        rows = [
            (name, r.get("type"), r.get("snapshot-id"))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return local_frame(spark, rows, schema)
    if kind == "statistics":
        # the spec's table-statistics list: Puffin files of per-snapshot
        # blob metadata (NDV theta sketches etc.) — surfaced as-is; blob
        # DECODE is not offered (datasketches formats aren't vendored)
        schema = ST(
            [
                StructField("snapshot_id", LongType(), True),
                StructField("statistics_path", StringType(), False),
                StructField("file_size_in_bytes", LongType(), True),
                StructField(
                    "blob_types", ArrayType(StringType()), True
                ),
            ]
        )
        rows = [
            (
                st.get("snapshot-id"),
                st["statistics-path"],
                st.get("file-size-in-bytes"),
                [
                    b.get("type")
                    for b in (st.get("blob-metadata") or [])
                ],
            )
            for st in (meta.get("statistics") or [])
        ]
        return local_frame(spark, rows, schema)
    if kind not in ("manifests", "files", "delete_files", "partitions"):
        raise ValueError(
            f"unknown metadata table {kind!r} (have snapshots, history, "
            "manifests, files, delete_files, partitions, refs, "
            "statistics)"
        )
    by_id = {s["snapshot-id"]: s for s in snaps}
    sid = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    if sid not in by_id:
        raise ValueError(f"snapshot {sid} not found (have {sorted(by_id)})")
    snap = by_id[sid]
    if "manifest-list" in snap:
        _s, manifests = read_avro(_localize(snap["manifest-list"], root))
    else:  # format v1 inline list
        manifests = [
            {"manifest_path": p, "manifest_length": None,
             "partition_spec_id": 0, "content": 0,
             "added_snapshot_id": None, "sequence_number": None}
            for p in snap.get("manifests", [])
        ]
    if kind == "manifests":
        schema = ST(
            [
                StructField("path", StringType(), False),
                StructField("length", LongType(), True),
                StructField("partition_spec_id", IntegerType(), True),
                StructField("content", IntegerType(), True),
                StructField("added_snapshot_id", LongType(), True),
                StructField("sequence_number", LongType(), True),
            ]
        )
        rows = [
            (
                m["manifest_path"],
                m.get("manifest_length"),
                m.get("partition_spec_id", 0),
                m.get("content", 0),
                m.get("added_snapshot_id"),
                m.get("sequence_number"),
            )
            for m in manifests
        ]
        return local_frame(spark, rows, schema)
    want_delete = kind == "delete_files"
    schema = ST(
        [
            StructField("content", IntegerType(), False),
            StructField("file_path", StringType(), False),
            StructField("file_format", StringType(), True),
            StructField("partition", MapType(StringType(), StringType()), True),
            StructField("record_count", LongType(), True),
            StructField("file_size_in_bytes", LongType(), True),
            StructField("sequence_number", LongType(), True),
            StructField("equality_ids", ArrayType(IntegerType()), True),
        ]
    )
    if kind == "partitions":
        # per-partition rollup of the data-file entries — the ops view
        # that answers "how big / how many files is each partition"
        part_agg: dict[tuple, list[int]] = {}
        for m in manifests:
            _s, entries = read_avro(_localize(m["manifest_path"], root))
            for e in entries:
                if e.get("status", 0) == 2:
                    continue
                df_ = e["data_file"]
                if df_.get("content", 0) != 0:
                    continue
                pv = tuple(
                    sorted(
                        (str(k), None if v is None else str(v))
                        for k, v in (df_.get("partition") or {}).items()
                    )
                )
                slot = part_agg.setdefault(pv, [0, 0, 0])
                slot[0] += 1
                slot[1] += int(df_.get("record_count") or 0)
                slot[2] += int(df_.get("file_size_in_bytes") or 0)
        pschema = ST(
            [
                StructField(
                    "partition", MapType(StringType(), StringType()), True
                ),
                StructField("file_count", LongType(), False),
                StructField("record_count", LongType(), False),
                StructField("total_size_in_bytes", LongType(), False),
            ]
        )
        return local_frame(
            spark,
            [(dict(pv), n, rc, sz) for pv, (n, rc, sz) in sorted(part_agg.items())],
            pschema,
        )
    rows = []
    for m in manifests:
        mseq = m.get("sequence_number")
        _s, entries = read_avro(_localize(m["manifest_path"], root))
        for e in entries:
            if e.get("status", 0) == 2:
                continue  # deleted tombstone
            df_ = e["data_file"]
            content = df_.get("content", 0)
            if (content != 0) != want_delete:
                continue
            seq = e.get("sequence_number")
            seq = mseq if seq is None else seq
            pv = {
                str(k): (None if v is None else str(v))
                for k, v in (df_.get("partition") or {}).items()
            }
            eq = df_.get("equality_ids")
            rows.append(
                (
                    content,
                    df_["file_path"],
                    str(df_.get("file_format", "PARQUET")).upper(),
                    pv,
                    df_.get("record_count"),
                    df_.get("file_size_in_bytes"),
                    None if seq is None else int(seq),
                    None if eq is None else [int(i) for i in eq],
                )
            )
    return local_frame(spark, rows, schema)


def _live_files(
    meta: dict, root: str, snapshot_id, manifest_filter=None
) -> tuple[
    list[tuple[str, dict, int | None, dict, int | None, int | None]],
    list[str],
    list[tuple[str, int | None, list[int], dict]],
    list[dict],
]:
    """(data files as (path, partition values, sequence number, stats,
    adding snapshot id, v3 first_row_id — explicit, or inherited for
    ADDED entries from the manifest's first_row_id plus preceding
    record counts, else None),
    POSITIONAL delete file paths, EQUALITY delete files as (path,
    sequence number, equality field ids, partition values), format-v3
    DELETION VECTORS as ``{path, offset, length, referenced, cardinality}``
    dicts) live at the snapshot.
    Sequence numbers come from the entry when present, else inherit
    from the manifest-list record (``None`` when the metadata carries
    neither — fine unless equality deletes need the ordering).

    V3 DVs are content=1 entries whose file_format is PUFFIN: the
    entry's ``referenced_data_file`` / ``content_offset`` /
    ``content_size_in_bytes`` fields locate one ``deletion-vector-v1``
    blob scoped to exactly one data file (the v3 spec's replacement
    for positional-delete parquet; v2-era positional parquet in an
    upgraded table still reads through ``pos_out``). A PUFFIN delete
    entry without those fields is malformed and raises."""
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    if sid is None or sid == -1:
        return [], [], [], []
    if sid not in snaps:
        raise ValueError(
            f"snapshot {sid} not found (have {sorted(snaps)})"
        )
    snap = snaps[sid]
    if "manifest-list" in snap:
        _s, manifests = read_avro(_localize(snap["manifest-list"], root))
        manifest_paths = [
            (
                mrec["manifest_path"],
                mrec.get("content", 0) == 1,
                mrec.get("sequence_number"),
                mrec.get("added_snapshot_id"),
                mrec.get("first_row_id"),
            )
            for mrec in manifests
            # field-summary pruning cuts DATA manifests before they are
            # ever fetched/parsed; delete manifests are always read
            if manifest_filter is None
            or mrec.get("content", 0) == 1
            or manifest_filter(mrec)
        ]
    else:
        # format v1 inline manifest list: data manifests only
        manifest_paths = [
            (p, False, None, None, None) for p in snap.get("manifests", [])
        ]
    data_out: list[tuple[str, dict, int | None]] = []
    pos_out: list[str] = []
    eq_out: list[tuple[str, int | None, list[int], dict]] = []
    dv_out: list[dict] = []
    for mp, is_delete, mseq, madd, mfrid in manifest_paths:
        _s, entries = read_avro(_localize(mp, root))
        # v3 row-lineage inheritance: a null first_row_id on an ADDED
        # data file is assigned from the manifest's first_row_id plus
        # the record counts of the previously-read null-frid data files
        frid_running = 0
        for e in entries:
            if e.get("status", 0) == 2:
                continue  # deleted tombstone
            df = e["data_file"]
            content = df.get("content", 0)
            fmt = str(df.get("file_format", "PARQUET")).upper()
            seq = e.get("sequence_number")
            seq = mseq if seq is None else seq
            # the snapshot that ADDED the file (spec: explicit on the
            # entry, inherited from the manifest list for added
            # entries) — resolves the file's WRITE-TIME schema vintage
            added_sid = e.get("snapshot_id")
            added_sid = madd if added_sid is None else added_sid
            if fmt == "PUFFIN" and content == 1:
                # format-v3 deletion vector: one blob, one data file
                if not is_delete:
                    raise IcebergProtocolError(
                        "data manifest references a deletion vector; "
                        "malformed metadata"
                    )
                ref = df.get("referenced_data_file")
                off = df.get("content_offset")
                ln = df.get("content_size_in_bytes")
                if ref is None or off is None or ln is None:
                    raise IcebergProtocolError(
                        "PUFFIN delete entry without referenced_data_file/"
                        "content_offset/content_size_in_bytes; malformed "
                        "v3 metadata"
                    )
                dv_out.append(
                    {
                        "path": df["file_path"],
                        "offset": int(off),
                        "length": int(ln),
                        "referenced": ref,
                        "cardinality": df.get("record_count"),
                    }
                )
                continue
            if fmt != "PARQUET":
                raise IcebergProtocolError(
                    f"non-parquet {'delete' if content else 'data'} "
                    f"file format {fmt!r}"
                )
            if content in (1, 2):
                if not is_delete:
                    raise IcebergProtocolError(
                        "data manifest references a delete file "
                        f"(content={content} outside a DELETE manifest); "
                        "malformed metadata"
                    )
                if content == 1:
                    pos_out.append(df["file_path"])
                else:
                    eq_ids = list(df.get("equality_ids") or [])
                    if not eq_ids:
                        raise IcebergProtocolError(
                            "equality delete file without equality_ids; "
                            "malformed metadata"
                        )
                    eq_out.append(
                        (df["file_path"], seq, eq_ids, df.get("partition") or {})
                    )
            elif is_delete:
                raise IcebergProtocolError(
                    "DELETE manifest entry carries content=0 (a data "
                    "file); malformed metadata"
                )
            else:
                frid = df.get("first_row_id")
                if frid is None and mfrid is not None and e.get("status", 0) == 1:
                    frid = int(mfrid) + frid_running
                    frid_running += int(df.get("record_count") or 0)
                data_out.append(
                    (
                        df["file_path"],
                        df.get("partition") or {},
                        seq,
                        {
                            "lower": _bounds_map(df.get("lower_bounds")),
                            "upper": _bounds_map(df.get("upper_bounds")),
                            # sizing metadata for broadcast gates
                            # (bytes-based join strategy, guide §3.1)
                            "record_count": df.get("record_count"),
                            "file_size_in_bytes": df.get(
                                "file_size_in_bytes"
                            ),
                        },
                        added_sid,
                        None if frid is None else int(frid),
                    )
                )
    return data_out, pos_out, eq_out, dv_out


def _dv_deletes_df(
    spark, root: str, dv_dels: list[dict], fp: str, pos: str,
    src: str | None = None,
):
    """(file key, deleted row index) frame for format-v3 DELETION
    VECTORS with the roaring decode ON EXECUTORS at scale (on the
    driver when the decoded rows fit under the broadcast bound, through
    :func:`~..session.pandas_kernel`): the driver ships
    only the tiny (puffin path, offset, length, referenced file) spec
    — one input partition per blob — and mapInPandas fans each out to
    its deleted positions (sources/puffin.py verifies blob magic +
    CRC per the v3 spec). A multi-million-position vector never
    materializes as a driver-side list — the same scale posture as
    the Delta DV path (delta.py `_dv_positions_df`). Cardinality from
    the manifest entry's record_count is checked against the decode.
    With ``src``, each dict's ``_src`` id is carried through as an
    extra long column (the changelog replay's strike-source stamp)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField

    spec_schema = T.StructType(
        [
            StructField("puffin", StringType(), False),
            StructField("off", LongType(), False),
            StructField("len", LongType(), False),
            StructField("ref", StringType(), False),
            StructField("card", LongType(), True),
            StructField("srcid", LongType(), True),
        ]
    )
    out_schema = T.StructType(
        [
            StructField(fp, StringType(), False),
            StructField(pos, LongType(), False),
        ]
        + ([StructField(src, LongType(), False)] if src else [])
    )
    from urllib.parse import unquote

    # the referenced key must match the scan side's decoded_file_path
    # form: %XX escapes decoded (unquote, NOT unquote_plus — a literal
    # '+' in a path survives), file: scheme stripped by _localize
    rows = [
        (
            _localize(d["path"], root),
            d["offset"],
            d["length"],
            os.path.abspath(unquote(_localize(d["referenced"], root))),
            None if d.get("cardinality") is None else int(d["cardinality"]),
            int(d.get("_src", -1)),
        )
        for d in dv_dels
    ]

    def decode(batches):
        import pandas as pd

        from .puffin import dv_blob_decode, read_blob

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                vals = dv_blob_decode(read_blob(r.puffin, r.off, r.len))
                if r.card is not None and int(r.card) != len(vals):
                    raise IcebergProtocolError(
                        f"deletion vector cardinality {r.card} != decoded "
                        f"{len(vals)} in {r.puffin}"
                    )
                out = {fp: [r.ref] * len(vals), pos: vals}
                if src:
                    out[src] = [int(r.srcid)] * len(vals)
                yield pd.DataFrame(out)

    # input plus output bytes: the spec rows, and one (file key,
    # position[, source]) row per deleted position (each blob's
    # cardinality from its manifest entry)
    width = 16 if src else 8
    est = None if any(r[4] is None for r in rows) else sum(
        len(r[0]) + len(r[3]) + 40 + r[4] * (len(r[3]) + width) for r in rows
    )
    sdf = local_frame(spark, rows, spec_schema)
    return pandas_kernel(
        sdf.repartition(max(1, len(rows))), decode, out_schema,
        est_bytes=est, spec=rows,
    )


def _transform_result_type(transform: str, src_type) -> str | None:
    """The Iceberg type a partition transform RESULT is serialized as
    (what a manifest-list field summary's bounds decode under); None =
    unknown/un-prunable."""
    t = str(transform).lower()
    if t == "identity" or re.fullmatch(r"truncate\[\d+\]", t):
        return src_type if isinstance(src_type, str) else None
    if t.startswith("bucket[") or t in ("year", "month", "day", "hour"):
        return "int"
    return None


def manifest_summary_filter(meta: dict, partitions: dict):
    """``callable(manifest-list record) -> bool`` for the spec's
    manifest-list FIELD SUMMARIES (``partitions``, field id 507):
    False ONLY when a data manifest's per-partition-field
    [lower_bound, upper_bound] ranges provably exclude every wanted
    value — the metadata tier ABOVE per-file partition tuples. On a
    10,000-manifest table a one-partition read then PARSES only the
    matching manifests instead of all of them (each manifest parse is
    a storage round-trip + Avro decode on the driver). Conservative on
    every missing piece: no summaries, unknown spec id, un-orderable
    transform or type, decode-width mismatch, nulls, or a filter key
    no spec field serves — all keep the manifest. ``partitions`` uses
    :func:`read_iceberg`'s semantics (keys are partition FIELD names
    holding stored values, or SOURCE column names holding source
    values to transform)."""
    specs = {s.get("spec-id", 0): s for s in meta.get("partition-specs", [])}
    id2type: dict[int, object] = {}
    schemas = meta.get("schemas") or (
        [meta["schema"]] if "schema" in meta else []
    )
    for sch in schemas:
        for f in sch.get("fields", []):
            id2type[f.get("id")] = f.get("type")
    id2name: dict[int, str] = {}
    for sch in schemas:
        for f in sch.get("fields", []):
            id2name[f.get("id")] = f.get("name")

    def _vals(want) -> list:
        return list(want) if isinstance(want, (list, set, tuple)) else [want]

    def may_match(mrec: dict) -> bool:
        summaries = mrec.get("partitions")
        spec = specs.get(mrec.get("partition_spec_id", 0))
        if not summaries or spec is None:
            return True
        for i, fld in enumerate(spec.get("fields", [])):
            if i >= len(summaries) or summaries[i] is None:
                continue
            tr = fld.get("transform", "identity")
            src_name = id2name.get(fld.get("source-id"))
            # stored-value filter (partition field name) beats
            # source-value filter; identity makes them coincide
            if fld.get("name") in partitions:
                wanted = [
                    (v, False) for v in _vals(partitions[fld["name"]])
                ]
            elif src_name in partitions:
                wanted = [
                    (v, True) for v in _vals(partitions[src_name])
                ]
            else:
                continue
            rt = _transform_result_type(tr, id2type.get(fld.get("source-id")))
            if rt is None:
                continue
            s = summaries[i]
            lo_b, hi_b = s.get("lower_bound"), s.get("upper_bound")
            lo = decode_bound(rt, bytes(lo_b)) if lo_b is not None else None
            hi = decode_bound(rt, bytes(hi_b)) if hi_b is not None else None
            admitted = False
            for v, needs_transform in wanted:
                pv = transform_value(tr, v) if needs_transform else v
                if pv is None:
                    if s.get("contains_null"):
                        admitted = True
                        break
                    continue
                try:
                    if (lo is None or pv >= lo) and (hi is None or pv <= hi):
                        admitted = True
                        break
                except TypeError:
                    admitted = True  # incomparable: cannot prune
                    break
            if not admitted:
                return False
        return True

    return may_match


def _promotion_ok(vt, ct) -> bool:
    """Is reading write-time type ``vt`` as current type ``ct`` a
    spec-legal primitive promotion (v2 table spec: int->long,
    float->double, decimal(P,S)->decimal(P'>=P,S))?"""
    if vt == ct:
        return True
    if (vt, ct) in {("int", "long"), ("float", "double")}:
        return True
    mv = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", str(vt))
    mc = re.match(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", str(ct))
    return bool(
        mv
        and mc
        and int(mv.group(2)) == int(mc.group(2))
        and int(mv.group(1)) <= int(mc.group(1))
    )


def _vintage_groups(meta: dict, files: list) -> list | None:
    """Group live data files by WRITE-TIME schema vintage so renamed /
    promoted columns resolve by FIELD ID, the way the Iceberg spec
    requires ("columns in data files are resolved by field id").

    A file added by snapshot S was written under S's ``schema-id``; a
    name-based scan of such a file after a column rename silently
    returns NULL for the renamed column. Metadata-only: the vintage
    comes from the entry's adding snapshot — no parquet footers are
    read. Returns ``None`` when every file's vintage agrees with the
    CURRENT schema on (id, name, type) for all shared fields and no
    current name is claimed by a different id — the common case, which
    keeps the single-scan plan byte-identical to before. Otherwise an
    ordered list of ``(vintage_schema_json_or_None, [file records])``
    groups (``None`` = read with the current schema). Files whose
    adding snapshot has been expired from the metadata fall back to
    the current-schema group (their vintage is unknowable without
    footers; same behavior as before this feature)."""
    schemas = meta.get("schemas")
    if not schemas or len(schemas) < 2:
        return None
    cur = _schema_json(meta)
    cur_id = meta.get("current-schema-id", 0)
    by_id = {s.get("schema-id", 0): s for s in schemas}
    snap2schema = {
        s["snapshot-id"]: s.get("schema-id")
        for s in meta.get("snapshots", [])
    }

    def _needs_projection(sj: dict) -> bool:
        vin_by_id = {f["id"]: f for f in sj["fields"]}
        vin_names = {f["name"]: f["id"] for f in sj["fields"]}
        for cf in cur["fields"]:
            vf = vin_by_id.get(cf["id"])
            if vf is not None and (
                vf["name"] != cf["name"] or vf["type"] != cf["type"]
            ):
                return True
            if vf is None and cf["name"] in vin_names:
                # a dropped field's name was reused by a new field id:
                # a name-based read would resurrect the dead column
                return True
            if vf is None and cf.get("initial-default") is not None:
                # v3 initial-default: pre-addition files must fill the
                # DEFAULT, not NULL — the single-scan plan cannot
                return True
        return False

    needs = {
        vid: _needs_projection(sj)
        for vid, sj in by_id.items()
        if vid != cur_id
    }
    groups: dict[int | None, list] = {}
    for rec in files:
        vid = snap2schema.get(rec[4])
        key = vid if vid in needs and needs[vid] else None
        groups.setdefault(key, []).append(rec)
    if set(groups) == {None}:
        return None
    return [
        (None if k is None else by_id[k], recs)
        for k, recs in sorted(
            groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or 0)
        )
    ]


def _default_py_value(cf: dict):
    """Python value of field ``cf`` for rows in files written BEFORE
    the field existed — the v3 ``initial-default`` parsed from its
    JSON single-value serialization, else ``None``. The Python-worker
    twin of :func:`_absent_field_expr` (used by the streaming readers,
    which materialize rows outside the JVM); ``write-default`` is
    writer-side only and never applied on read. Unsupported default
    types raise rather than silently NULL-filling a declared
    default."""
    raw = cf.get("initial-default")
    if raw is None:
        return None
    t = cf.get("type")
    if isinstance(t, dict):
        raise IcebergProtocolError(
            f"field {cf.get('name')!r}: initial-default on nested type "
            f"{_tname(t)} is not supported by this reader"
        )
    tl = str(t).lower()
    if tl == "boolean":
        return bool(raw)
    if tl in ("int", "long"):
        return int(raw)
    if tl in ("float", "double"):
        return float(raw)
    if tl in ("string", "uuid"):
        return str(raw)
    if tl == "date":
        import datetime

        return datetime.date.fromisoformat(str(raw))
    if tl in ("timestamp", "timestamptz"):
        import datetime

        return datetime.datetime.fromisoformat(
            str(raw).replace("Z", "+00:00")
        )
    if tl.startswith("decimal"):
        from decimal import Decimal

        return Decimal(str(raw))
    raise IcebergProtocolError(
        f"field {cf.get('name')!r}: initial-default for type {t!r} "
        "is not supported by this reader"
    )


def _py_vintage_conv(vt, ct):
    """Picklable conversion SPEC from a value read under write-time
    Iceberg type ``vt`` to current type ``ct`` — the Python-side twin
    of :func:`_vintage_expr` for readers that materialize rows in a
    Python worker (the streaming sources, one file = one vintage per
    input partition). ``None`` means identity: every spec-legal
    primitive promotion is value-preserving over Python natives
    (int->long, float->double, decimal widening), so only NESTED
    evolution needs real work. Nested specs are tuples:

    - ``("struct", [(out_name, src_name|None, sub|None, fill), ...])``
      — rebuild member by member by field id: renamed members read the
      write-time name, members added after the vintage fill the v3
      initial-default (else None), dropped members vanish;
    - ``("list", element_sub)``;
    - ``("map", key_sub|None, value_sub|None)``.

    Spec-illegal promotions and shape changes raise, exactly like the
    batch path — never a lossy or name-based read."""
    if vt == ct:
        return None
    v_nested, c_nested = isinstance(vt, dict), isinstance(ct, dict)
    if not v_nested and not c_nested:
        if not _promotion_ok(vt, ct):
            raise IcebergProtocolError(
                f"type changed {vt!r} -> {ct!r}, which is not a "
                "spec-legal promotion (int->long, float->double, "
                "decimal widening)"
            )
        return None
    vk = vt.get("type") if v_nested else None
    ck = ct.get("type") if c_nested else None
    if vk == "struct" and ck == "struct":
        vin_by_id = {f["id"]: f for f in vt["fields"]}
        members = []
        for cf in ct["fields"]:
            vf = vin_by_id.get(cf["id"])
            if vf is None:
                members.append(
                    (cf["name"], None, None, _default_py_value(cf))
                )
            else:
                members.append(
                    (
                        cf["name"],
                        vf["name"],
                        _py_vintage_conv(vf["type"], cf["type"]),
                        None,
                    )
                )
        return ("struct", members)
    if vk == "list" and ck == "list":
        sub = _py_vintage_conv(vt["element"], ct["element"])
        return None if sub is None else ("list", sub)
    if vk == "map" and ck == "map":
        ks = _py_vintage_conv(vt["key"], ct["key"])
        vs = _py_vintage_conv(vt["value"], ct["value"])
        return None if ks is None and vs is None else ("map", ks, vs)
    raise IcebergProtocolError(
        f"type changed shape across schema versions "
        f"({_tname(vt)} -> {_tname(ct)}); no id-preserving projection "
        "exists for a shape change"
    )


def compile_vintage_conv(conv):
    """Compile a :func:`_py_vintage_conv` spec into a value converter.
    Runs in the Python worker over ``pyarrow`` ``to_pylist`` values:
    struct values arrive as dicts keyed by WRITE-TIME member names,
    lists as lists, maps as lists of ``(key, value)`` pairs; converted
    structs/maps are emitted as dicts keyed by the CURRENT names (the
    shape PySpark's local-data conversion accepts)."""
    if conv is None:
        return lambda v: v
    kind = conv[0]
    if kind == "struct":
        members = [
            (
                name,
                src,
                None if sub is None else compile_vintage_conv(sub),
                fill,
            )
            for name, src, sub, fill in conv[1]
        ]

        def conv_struct(v, _m=members):
            if v is None:
                return None
            out = {}
            for name, src, sub, fill in _m:
                if src is None:
                    out[name] = fill
                else:
                    x = v.get(src)
                    out[name] = x if sub is None else sub(x)
            return out

        return conv_struct
    if kind == "list":
        sub = compile_vintage_conv(conv[1])
        return lambda v, _s=sub: None if v is None else [_s(x) for x in v]
    ks = compile_vintage_conv(conv[1])
    vs = compile_vintage_conv(conv[2])

    def conv_map(v, _k=ks, _v=vs):
        if v is None:
            return None
        items = v.items() if isinstance(v, dict) else v
        return {_k(k): _v(x) for k, x in items}

    return conv_map


def _tname(t) -> str:
    return t.get("type", "?") if isinstance(t, dict) else str(t)


def _absent_field_expr(cf: dict, dt: T.DataType):
    """The value of field ``cf`` for rows in files written BEFORE the
    field existed: the v3 ``initial-default`` when the schema declares
    one (JSON single-value serialization — numbers for numerics, the
    ISO string forms for date/timestamp, plain strings otherwise),
    else NULL. ``write-default`` is writer-side only and never applied
    on read. Unsupported default types raise rather than silently
    NULL-filling a declared default."""
    from pyspark.sql import functions as F

    raw = cf.get("initial-default")
    if raw is None:
        return F.lit(None).cast(dt)
    t = cf.get("type")
    if isinstance(t, dict):
        raise IcebergProtocolError(
            f"field {cf.get('name')!r}: initial-default on nested type "
            f"{_tname(t)} is not supported by this reader"
        )
    tl = str(t).lower()
    if (
        tl in ("boolean", "int", "long", "float", "double", "string",
               "date", "timestamp", "timestamptz", "uuid")
        or tl.startswith("decimal")
    ):
        # JSON forms cast exactly: numerics are numbers, date is
        # 'YYYY-MM-DD', timestamps the ISO string, decimal a string
        return F.lit(raw).cast(dt)
    raise IcebergProtocolError(
        f"field {cf.get('name')!r}: initial-default for type {t!r} "
        "is not supported by this reader"
    )


def _vintage_expr(col, vt, ct, out_dt):
    """Projection from a value read under WRITE-TIME Iceberg type
    ``vt`` to the CURRENT type ``ct`` (Spark type ``out_dt``),
    resolving NESTED evolution by field id the way the spec requires
    ("columns in data files are resolved by field id" — at every
    nesting level, not just the top):

    - identical types pass through;
    - primitive promotions cast exactly (int->long, float->double,
      decimal widening); anything else raises (never a lossy cast);
    - STRUCTS rebuild field by field: shared inner ids recurse (an
      inner rename reads the write-time name, an inner promotion
      casts), inner fields added after the vintage NULL-fill, inner
      fields dropped from the current schema vanish, and a NULL
      struct value stays NULL (``F.struct`` of NULL members is not);
    - LISTS recurse on the element (``F.transform``), MAPS on key and
      value (``F.transform_keys`` / ``F.transform_values``) — both
      are NULL-safe by construction;
    - a shape change (struct<->primitive, list<->map, ...) has no
      id-preserving projection and raises.

    Everything stays a JVM column expression — no UDFs, and the whole
    projection folds into the scan's single whole-stage-codegen span."""
    from pyspark.sql import functions as F

    if vt == ct:
        return col
    v_nested, c_nested = isinstance(vt, dict), isinstance(ct, dict)
    if not v_nested and not c_nested:
        if not _promotion_ok(vt, ct):
            raise IcebergProtocolError(
                f"type changed {vt!r} -> {ct!r}, which is not a "
                "spec-legal promotion (int->long, float->double, "
                "decimal widening)"
            )
        return col.cast(out_dt)
    vk = vt.get("type") if v_nested else None
    ck = ct.get("type") if c_nested else None
    if vk == "struct" and ck == "struct":
        vin_by_id = {f["id"]: f for f in vt["fields"]}
        inner = []
        for cf, sf_ in zip(ct["fields"], out_dt.fields):
            vf = vin_by_id.get(cf["id"])
            if vf is None:
                inner.append(
                    _absent_field_expr(cf, sf_.dataType).alias(sf_.name)
                )
            else:
                inner.append(
                    _vintage_expr(
                        col.getField(vf["name"]),
                        vf["type"],
                        cf["type"],
                        sf_.dataType,
                    ).alias(sf_.name)
                )
        return F.when(col.isNotNull(), F.struct(*inner)).otherwise(
            F.lit(None).cast(out_dt)
        )
    if vk == "list" and ck == "list":
        return F.transform(
            col,
            lambda x: _vintage_expr(
                x, vt["element"], ct["element"], out_dt.elementType
            ),
        )
    if vk == "map" and ck == "map":
        out = col
        if vt["key"] != ct["key"]:
            out = F.transform_keys(
                out,
                lambda k, _v: _vintage_expr(
                    k, vt["key"], ct["key"], out_dt.keyType
                ),
            )
        if vt["value"] != ct["value"]:
            out = F.transform_values(
                out,
                lambda _k, v: _vintage_expr(
                    v, vt["value"], ct["value"], out_dt.valueType
                ),
            )
        return out
    raise IcebergProtocolError(
        f"type changed shape across schema versions "
        f"({_tname(vt)} -> {_tname(ct)}); no id-preserving projection "
        "exists for a shape change"
    )


def _vintage_read_type(vt, ct) -> T.DataType:
    """The Spark type to READ a write-time value under, PRUNED to what
    the projection to current type ``ct`` will touch: struct members
    dropped from the current schema never reach the parquet reader
    (nested column pruning — at scale the dropped member may be the
    wide one). Falls back to the full write-time layout when pruning
    would leave an empty struct or the shapes differ (the projection
    then raises with the full picture)."""
    if not isinstance(vt, dict):
        return _spark_type(vt)
    vk = vt.get("type")
    ck = ct.get("type") if isinstance(ct, dict) else None
    if vk == "struct" and ck == "struct":
        cur = {f["id"]: f for f in ct["fields"]}
        kept = [f for f in vt["fields"] if f["id"] in cur]
        if not kept:
            return _spark_type(vt)
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _vintage_read_type(f["type"], cur[f["id"]]["type"]),
                    True,
                )
                for f in kept
            ]
        )
    if vk == "list" and ck == "list":
        return T.ArrayType(
            _vintage_read_type(vt["element"], ct["element"]), True
        )
    if vk == "map" and ck == "map":
        return T.MapType(
            _vintage_read_type(vt["key"], ct["key"]),
            _vintage_read_type(vt["value"], ct["value"]),
            True,
        )
    return _spark_type(vt)


def vintage_projection(
    meta: dict, adding_snapshot_id, out_json: dict
) -> list[tuple]:
    """Per top-level field of ``out_json`` (the schema a reader
    emits), how a Python-worker reader produces the value from a data
    file added by ``adding_snapshot_id``: a ``(source_column_name |
    None, conversion_spec | None, fill_value)`` triple, resolved by
    FIELD ID per the spec at EVERY nesting level — the streaming twin
    of the batch :func:`_vintage_scan`. A renamed column maps to its
    write-time name instead of NULLing out; nested members rebuild by
    id through :func:`_py_vintage_conv` (inner rename / promotion /
    add / drop); a field that didn't exist in the vintage fills its
    v3 ``initial-default`` when declared, else None — including a
    dropped field's name reused by a new id. Spec-illegal promotions
    and shape changes raise. Falls back to identity over the output
    names when the vintage is unknowable (expired adding snapshot, no
    schemas list, or no schema-id stamp) — same fallback as the batch
    path. Compile the specs with :func:`compile_vintage_conv`; used by
    the streaming readers, which consume one file (= one vintage) per
    input partition."""
    ident = [(f["name"], None, None) for f in out_json["fields"]]
    schemas = meta.get("schemas")
    if not schemas or adding_snapshot_id is None:
        return ident
    snap2schema = {
        s["snapshot-id"]: s.get("schema-id")
        for s in meta.get("snapshots", [])
    }
    vid = snap2schema.get(adding_snapshot_id)
    by_id = {s.get("schema-id", 0): s for s in schemas}
    sj = by_id.get(vid)
    if vid is None or sj is None or sj == out_json:
        return ident
    vin_by_id = {f["id"]: f for f in sj["fields"]}
    out: list[tuple] = []
    for cf in out_json["fields"]:
        vf = vin_by_id.get(cf["id"])
        if vf is None:
            out.append((None, None, _default_py_value(cf)))
        else:
            out.append(
                (vf["name"], _py_vintage_conv(vf["type"], cf["type"]), None)
            )
    return out


def _vintage_scan(
    spark, schema: T.StructType, cur_json: dict, vin_json: dict,
    paths: list[str], key_exprs: list, extra: tuple = (),
):
    """Scan ONE schema vintage's files and project to the CURRENT
    schema: shared field ids are read under their write-time names and
    types then restored by id (rename handling), spec-legal primitive
    promotions are cast exactly (int->long, float->double, decimal
    widening), and fields added after the vintage fill NULL — at EVERY
    nesting level: struct members renamed/promoted/added/dropped
    across versions resolve by id through :func:`_vintage_expr`, and
    the read schema is pruned to the members the projection touches
    (:func:`_vintage_read_type`). A shape change (struct<->primitive,
    list<->map) has no id-preserving projection and raises."""
    from pyspark.sql import functions as F

    vin_by_id = {f["id"]: f for f in vin_json["fields"]}
    read_fields: list[T.StructField] = []
    projection = []
    for cf, sf_ in zip(cur_json["fields"], schema.fields):
        vf = vin_by_id.get(cf["id"])
        if vf is None:
            # fields added after this vintage: the v3 initial-default
            # when declared, NULL otherwise
            projection.append(
                _absent_field_expr(cf, sf_.dataType).alias(sf_.name)
            )
            continue
        read_fields.append(
            T.StructField(
                vf["name"], _vintage_read_type(vf["type"], cf["type"]), True
            )
        )
        projection.append(
            _vintage_expr(
                F.col(vf["name"]), vf["type"], cf["type"], sf_.dataType
            ).alias(sf_.name)
        )
    for xf, alias in extra:
        # passthrough physical columns with RESERVED names (the v3
        # materialized lineage columns) — same names in every vintage
        read_fields.append(xf)
        projection.append(F.col(xf.name).alias(alias))
    d = spark.read.schema(T.StructType(read_fields)).parquet(*paths)
    return d.select(*projection, *key_exprs)


def _bounds_map(raw) -> dict[int, bytes]:
    """Manifest column bounds -> {field id: binary single-value}.
    Real manifests store array<struct<key:int, value:binary>>; Avro-map
    fixtures ({str(id): bytes}) are accepted too. Absent/None -> {}."""
    if not raw:
        return {}
    out: dict[int, bytes] = {}
    if isinstance(raw, dict):
        for k, v in raw.items():
            if v is not None:
                out[int(k)] = bytes(v)
    else:
        for kv in raw:
            v = kv.get("value")
            if v is not None:
                out[int(kv["key"])] = bytes(v)
    return out


def decode_bound(icetype, b: bytes):
    """Spec Appendix D single-value binary serialization -> python value
    (the subset bounds pruning needs; unsupported types return None =
    cannot prune)."""
    import struct as _struct

    if not isinstance(icetype, str):
        return None
    t = icetype.lower()
    try:
        if t == "int" or t == "date":
            return _struct.unpack("<i", b)[0]
        if t in ("long", "time", "timestamp", "timestamptz"):
            return _struct.unpack("<q", b)[0]
        if t == "float":
            return _struct.unpack("<f", b)[0]
        if t == "double":
            return _struct.unpack("<d", b)[0]
        if t == "string":
            return b.decode("utf-8")
        if t == "boolean":
            return b != b"\x00"
    except (ValueError, _struct.error):
        return None
    return None


def encode_bound(icetype, value) -> bytes | None:
    """Python value -> spec Appendix D single-value binary serialization
    (the exact inverse of :func:`decode_bound` for the types the export
    harvests). Date/timestamp values may arrive as ISO-8601 strings —
    the JSON-storable form SnapshotTable footer stats keep — and encode
    to days / microseconds since epoch. Unsupported types or values
    return None (the entry simply carries no bound for the column —
    conservative, never wrong)."""
    import datetime
    import struct as _struct

    if not isinstance(icetype, str) or value is None:
        return None
    t = icetype.lower()
    try:
        if t == "date":
            if isinstance(value, str):
                value = datetime.date.fromisoformat(value)
            if isinstance(value, datetime.datetime):
                value = value.date()
            if isinstance(value, datetime.date):
                value = (value - datetime.date(1970, 1, 1)).days
            return _struct.pack("<i", int(value))
        if t in ("timestamp", "timestamptz"):
            if isinstance(value, str):
                value = datetime.datetime.fromisoformat(value)
            if isinstance(value, datetime.datetime):
                if value.tzinfo is not None:
                    # exact integer micros: float .timestamp() loses
                    # sub-us precision past 2^53 us (~year 2255), and a
                    # bound off by 1us can over-prune
                    value = value.astimezone(
                        datetime.timezone.utc
                    ).replace(tzinfo=None)
                delta = value - datetime.datetime(1970, 1, 1)
                value = (
                    delta.days * 86_400_000_000
                    + delta.seconds * 1_000_000
                    + delta.microseconds
                )
            return _struct.pack("<q", int(value))
        if t == "int":
            return _struct.pack("<i", int(value))
        if t in ("long", "time"):
            return _struct.pack("<q", int(value))
        if t == "float":
            return _struct.pack("<f", float(value))
        if t == "double":
            return _struct.pack("<d", float(value))
        if t == "string":
            return str(value).encode("utf-8")
        if t == "boolean":
            return b"\x01" if value else b"\x00"
    except (ValueError, OverflowError, _struct.error):
        return None
    return None


_PRED_OPS = ("<", "<=", "=", "==", ">=", ">")


def _file_may_match(
    stats: dict, fid: int, icetype, op: str, value
) -> bool:
    """Conservative bounds test: False ONLY when the file's [lower,
    upper] range for the column provably excludes every matching row.
    Missing bounds -> True (cannot prune)."""
    lo = decode_bound(icetype, stats["lower"][fid]) if fid in stats["lower"] else None
    hi = decode_bound(icetype, stats["upper"][fid]) if fid in stats["upper"] else None
    if op in (">", ">="):
        if hi is None:
            return True
        return hi > value if op == ">" else hi >= value
    if op in ("<", "<="):
        if lo is None:
            return True
        return lo < value if op == "<" else lo <= value
    # equality
    if lo is not None and lo > value:
        return False
    if hi is not None and hi < value:
        return False
    return True


def snapshot_at_timestamp(meta: dict, ts_millis: int) -> int:
    """The snapshot a TIMESTAMP time travel resolves to: the LAST
    snapshot whose ``timestamp-ms`` is <= the requested time (Iceberg's
    ``FOR SYSTEM_TIME AS OF`` semantics). Raises when the table's first
    snapshot is later."""
    best, earliest = None, None
    for s in meta.get("snapshots", []):
        ts = s.get("timestamp-ms")
        if ts is None:
            continue
        earliest = ts if earliest is None else min(earliest, ts)
        if ts <= ts_millis and (
            best is None or ts >= best[0]
        ):
            best = (ts, s["snapshot-id"])
    if best is None:
        raise ValueError(
            f"no snapshot at or before timestamp {ts_millis} "
            f"(earliest snapshot timestamp-ms: {earliest})"
        )
    return best[1]


def _eq_schema_index(schema_json: dict) -> dict[int, tuple[str, object]]:
    """``field id -> (dotted path, type JSON)`` for every field
    reachable from the top level through STRUCT nesting only. Fields
    under list/map types are deliberately not indexed: the spec
    forbids equality ids on repeated or map-nested fields, so an id
    that lands there resolves as unknown and the caller's gate
    fires."""
    out: dict[int, tuple[str, object]] = {}

    def walk(fields: list, prefix: str) -> None:
        for f in fields:
            path = prefix + f["name"]
            out[f["id"]] = (path, f["type"])
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "struct":
                walk(t["fields"], path + ".")

    walk(schema_json["fields"], "")
    return out


def _eq_field_paths(
    schema_json: dict, eq_ids: list[int]
) -> list[tuple[str, object]]:
    """Resolve an equality delete file's ``equality_ids`` to
    ``(dotted path, primitive type JSON)`` pairs against the CURRENT
    schema — nested struct fields resolve to their full path (the
    spec allows equality ids on any primitive field not under a
    repeated or map type). Unknown ids (including ids buried under
    list/map) and non-primitive targets raise."""
    idx = _eq_schema_index(schema_json)
    pairs = []
    for i in eq_ids:
        if i not in idx:
            raise IcebergProtocolError(
                f"equality_ids reference field id {i} which is not a "
                "schema field reachable through struct nesting "
                "(unknown id, or a field under a list/map type — the "
                "spec forbids equality ids there)"
            )
        path, tj = idx[i]
        if isinstance(tj, dict):
            raise IcebergProtocolError(
                f"equality_ids reference field id {i} ({path}), which "
                f"is a non-primitive {tj.get('type')} — equality "
                "deletes compare primitive values"
            )
        pairs.append((path, tj))
    return pairs


def _eq_read_schema(pairs: list[tuple[str, object]]) -> T.StructType:
    """Spark read schema for an equality delete file covering exactly
    the resolved ``(dotted path, type JSON)`` pairs — leaf fields
    wrapped back into their struct shells so the nested parquet the
    writer produced reads by name."""
    tree: dict = {}
    for path, tj in pairs:
        parts = path.split(".")
        d = tree
        for p in parts[:-1]:
            d = d.setdefault(p, {})
        d[parts[-1]] = ("leaf", tj)

    def build(node: dict) -> T.StructType:
        fields = []
        for name, v in node.items():
            if isinstance(v, tuple) and v[0] == "leaf":
                fields.append(T.StructField(name, _spark_type(v[1]), True))
            else:
                fields.append(T.StructField(name, build(v), True))
        return T.StructType(fields)

    return build(tree)


def read_iceberg(
    spark: SparkSession,
    root: str,
    snapshot_id: int | None = None,
    partitions: dict[str, object] | None = None,
    broadcast_deletes: bool = True,
    timestamp: int | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
    ref: str | None = None,
    row_lineage: bool = False,
    _keep_keys: tuple[str, str] | None = None,
) -> DataFrame:
    """Snapshot-read an Iceberg table (``snapshot_id=`` time travel,
    default the current snapshot). ``partitions`` prunes files at the
    METADATA level against the manifests' partition tuples before Spark
    lists anything: keys may be stored partition FIELD names matched
    directly (``{"seg": "A"}`` or value lists), or SOURCE column names
    of transform-partitioned specs — ``bucket[N]`` / ``truncate[W]`` /
    ``year`` / ``month`` / ``day`` / ``hour`` / ``identity`` are
    evaluated per the spec (:func:`transform_value`; bucket uses the
    Appendix-B 32-bit Murmur3) and a file is admitted iff some wanted
    source value matches its tuple on every spec field derived from
    that source. Files whose tuple lacks the field (mixed-spec history)
    are conservatively kept. Unknown names raise.

    V2 POSITIONAL deletes are applied (see the module docstring): data
    files are scanned once with ``_metadata.row_index`` and the delete
    files' ``(file_path, pos)`` pairs are LEFT ANTI-joined — broadcast
    by default (``broadcast_deletes=False`` switches to a shuffled
    anti-join for delete sets too large to broadcast).

    V2 EQUALITY deletes (what Flink CDC upserts write) are applied with
    the spec's SEQUENCE-NUMBER ordering: a delete file at sequence s
    removes a data row iff its data file's sequence number is < s and
    the row's values in the delete's ``equality_ids`` columns null-
    safely equal some delete row — one broadcast LEFT ANTI-join per
    delete file. Metadata that carries equality deletes but no
    sequence numbers raises (ordering would be a guess); equality ids
    must resolve to top-level schema fields."""
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) > 3:
        raise IcebergProtocolError(
            f"format-version {meta['format-version']} > 3 is not supported"
        )
    if sum(x is not None for x in (snapshot_id, timestamp, ref)) > 1:
        raise ValueError(
            "pass at most one of snapshot_id= / timestamp= / ref="
        )
    if timestamp is not None:
        snapshot_id = snapshot_at_timestamp(meta, timestamp)
    if ref is not None:
        # named refs (spec §Table Metadata `refs`): branches and tags
        # pin snapshot ids — the `VERSION AS OF 'name'` surface
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"ref {ref!r} not found (have {sorted(refs)})"
            )
        snapshot_id = int(refs[ref]["snapshot-id"])
    schema = _table_schema(meta)
    files, pos_dels, eq_dels, dv_dels = _live_files(
        meta,
        root,
        snapshot_id,
        manifest_filter=(
            manifest_summary_filter(meta, partitions) if partitions else None
        ),
    )
    if predicates:
        # metadata-level MIN/MAX skipping: the manifests' per-column
        # lower/upper bounds (Appendix D binary single-values) prune
        # files a conjunctive predicate provably cannot match; files
        # without bounds for a column are conservatively kept
        # resolve names against the CURRENT schema only: with schema
        # evolution in the metadata, a historical schema could bind a
        # reused name to a DEAD field id and over-prune (bounds maps
        # are keyed by field id, which is rename-stable)
        name_info: dict[str, tuple[int, object]] = {}
        for f in _schema_json(meta).get("fields", []):
            name_info[f.get("name")] = (f.get("id"), f.get("type"))
        checked = []
        for col, op, value in predicates:
            if op not in _PRED_OPS:
                raise ValueError(
                    f"unsupported predicate op {op!r} (have {_PRED_OPS})"
                )
            if col not in name_info:
                raise ValueError(
                    f"predicate names unknown column {col!r} "
                    f"(schema columns: {sorted(name_info)})"
                )
            checked.append((name_info[col][0], name_info[col][1], op, value))
        files = [
            rec
            for rec in files
            if all(
                _file_may_match(rec[3], fid, it, op, v)
                for fid, it, op, v in checked
            )
        ]
    if partitions:
        known = set()
        for rec in files:
            known.update(rec[1])
        src_map = _spec_source_map(meta)
        unknown = [
            c for c in partitions if files and c not in known and c not in src_map
        ]
        if unknown:
            raise ValueError(
                f"partitions filter names unknown partition fields {unknown} "
                f"(manifest partition fields: {sorted(known)}; "
                f"transform source columns: {sorted(src_map)})"
            )

        def _vals(want) -> list:
            return list(want) if isinstance(want, (list, set, tuple)) else [want]

        def _admits(pv: dict, key, want) -> bool:
            if key in pv:  # direct partition-field match (stored value)
                return any(v == pv[key] for v in _vals(want))
            # source column: a row with source=v lands in a file whose
            # tuple has field=transform(v) for EVERY spec field derived
            # from this source; admit if any wanted v matches all fields
            # the file's tuple actually carries (none present -> cannot
            # prune on this key, keep the file)
            flds = [
                (fn, tr) for fn, tr in src_map.get(key, ()) if fn in pv
            ]
            if not flds:
                return True
            return any(
                all(pv[fn] == transform_value(tr, v) for fn, tr in flds)
                for v in _vals(want)
            )

        files = [
            rec
            for rec in files
            if all(_admits(rec[1], c, w) for c, w in partitions.items())
        ]
    if row_lineage:
        # v3 ROW LINEAGE surfaced as _row_id / _last_updated_sequence_
        # number: _row_id = the file's first_row_id + the row's
        # position (for rows without materialized lineage columns),
        # _last_updated_sequence_number = the file's data sequence.
        # Requires v3 metadata with resolvable lineage on every file.
        if int(meta.get("format-version", 1)) < 3:
            raise IcebergProtocolError(
                "row_lineage=True needs format-version 3 metadata "
                f"(table is v{meta.get('format-version', 1)})"
            )
        bad = [rec[0] for rec in files if rec[5] is None or rec[2] is None]
        if bad:
            raise IcebergProtocolError(
                "row_lineage=True but these data files carry no "
                f"resolvable first_row_id / sequence number: {bad[:3]}"
            )
    lineage_fields = [
        T.StructField("_row_id", T.LongType(), True),
        T.StructField("_last_updated_sequence_number", T.LongType(), True),
    ]
    if not files:
        out_schema = schema
        if row_lineage:
            out_schema = T.StructType(list(schema.fields) + lineage_fields)
        if _keep_keys is not None:
            out_schema = T.StructType(
                list(out_schema.fields)
                + [
                    T.StructField(_keep_keys[0], T.StringType(), True),
                    T.StructField(_keep_keys[1], T.LongType(), True),
                ]
            )
        return local_frame(spark, [], out_schema)
    from pyspark.sql import functions as F

    from .io import decoded_file_path as _norm

    out_cols = [f.name for f in schema.fields]
    # _keep_keys=(file_col, pos_col): internal hook for the row-level
    # DML writers (iceberg_dml.merge_iceberg) — the snapshot scan also
    # surfaces each row's (decoded data-file path, parquet ordinal), so
    # a MERGE can target position deletes without re-implementing the
    # delete-application machinery above
    need_keys = (
        bool(pos_dels or eq_dels or dv_dels) or row_lineage
        or _keep_keys is not None
    )

    # both anti-join sides go to decoded local-path form:
    # _metadata.file_path is the URI Spark read
    # ("file:///a/b%20c.parquet"); delete-file rows carry the writer's
    # URI serialization of the same path. The helper decodes ONLY %XX
    # escapes (a literal '+' in a path survives) and strips file:.

    fp, pos, seqc = "__iceberg_file", "__iceberg_pos", "__iceberg_seq"
    while fp in out_cols or pos in out_cols or seqc in out_cols:
        fp, pos, seqc = "_" + fp, "_" + pos, "_" + seqc

    def _key_exprs():
        return [
            _norm(F.col("_metadata.file_path")).alias(fp),
            F.col("_metadata.row_index").alias(pos),
        ]

    # v3 MATERIALIZED lineage columns: rewritten files persist each
    # row's original _row_id / _last_updated_sequence_number as real
    # parquet columns (reserved names) so identity survives
    # compaction; the stored value WINS over the fresh computation.
    # Files without them read NULL and fresh fills in.
    mat_rid, mat_seq = fp + "_matrid", fp + "_matseq"
    lineage_read = (
        [
            T.StructField("_row_id", T.LongType(), True),
            T.StructField(
                "_last_updated_sequence_number", T.LongType(), True
            ),
        ]
        if row_lineage
        else []
    )
    lineage_aliases = [mat_rid, mat_seq]

    def _lineage_exprs():
        return [
            F.col(xf.name).alias(a)
            for xf, a in zip(lineage_read, lineage_aliases)
        ]

    groups = _vintage_groups(meta, files)
    if groups is None:
        # single schema vintage: one scan node over the whole file
        # list, exactly as before
        paths = sorted(_localize(rec[0], root) for rec in files)
        df = spark.read.schema(
            T.StructType(list(schema.fields) + lineage_read)
        ).parquet(*paths)
        if not need_keys:
            return df
        keyed = df.select(*out_cols, *_lineage_exprs(), *_key_exprs())
    else:
        # schema evolution with renames/promotions: one scan per
        # WRITE-TIME vintage (almost always 2), each projected to the
        # current schema by FIELD ID, then unioned — the delete keys
        # must attach per scan (the _metadata column is scan-scoped)
        cur_json = _schema_json(meta)
        extra = tuple(zip(lineage_read, lineage_aliases))
        frames = []
        for vin, recs in groups:
            vpaths = sorted(_localize(rec[0], root) for rec in recs)
            if vin is None:
                d = spark.read.schema(
                    T.StructType(list(schema.fields) + lineage_read)
                ).parquet(*vpaths)
                d = d.select(
                    *out_cols, *_lineage_exprs(),
                    *(_key_exprs() if need_keys else []),
                )
            else:
                d = _vintage_scan(
                    spark, schema, cur_json, vin, vpaths,
                    _key_exprs() if need_keys else [], extra,
                )
            frames.append(d)
        keyed = frames[0]
        for x in frames[1:]:
            keyed = keyed.unionByName(x)
        if not need_keys:
            return keyed
    from pyspark.sql.types import LongType, StringType, StructField

    if pos_dels or dv_dels:
        frames = []
        if pos_dels:
            del_schema = T.StructType(
                [
                    StructField("file_path", StringType(), True),
                    StructField("pos", LongType(), True),
                ]
            )
            frames.append(
                spark.read.schema(del_schema)
                .parquet(*sorted(_localize(p, root) for p in pos_dels))
                .select(
                    _norm(F.col("file_path")).alias(fp),
                    F.col("pos").alias(pos),
                )
            )
        if dv_dels:
            frames.append(_dv_deletes_df(spark, root, dv_dels, fp, pos))
        dels = frames[0]
        for extra in frames[1:]:
            dels = dels.unionByName(extra)
        if broadcast_deletes:
            dels = F.broadcast(dels)
        keyed = keyed.join(dels, [fp, pos], "left_anti")
    if eq_dels:
        from urllib.parse import unquote

        if any(rec[2] is None for rec in files) or any(
            d[1] is None for d in eq_dels
        ):
            raise IcebergProtocolError(
                "equality deletes present but sequence numbers are "
                "missing from the manifest metadata; the data-vs-delete "
                "ordering cannot be established"
            )
        cur_json = _schema_json(meta)
        dels_sorted = sorted(eq_dels, key=lambda d: (d[0], d[1]))

        def _in_scope(data_pv: dict, del_pv: dict) -> bool:
            # spec scoping: a PARTITIONED equality delete applies only
            # to data files in the same partition (its tuple matched on
            # every field it carries); an empty tuple = global delete.
            # A data file whose tuple lacks a delete field is from a
            # different spec and out of the delete's scope.
            return all(
                k in data_pv and data_pv[k] == v for k, v in del_pv.items()
            )

        # one broadcast frame keyed the same way the scan side is keyed
        # (decoded %XX, '+' preserved, absolute): per data file its
        # sequence number plus one applicability flag per delete file
        adm_cols = [f"{seqc}_adm{i}" for i in range(len(dels_sorted))]
        seq_df = local_frame(
            spark,
            [
                tuple(
                    [os.path.abspath(unquote(_localize(rec[0], root))), int(rec[2])]
                    + [_in_scope(rec[1], d[3]) for d in dels_sorted]
                )
                for rec in files
            ],
            T.StructType(
                [
                    StructField(fp, StringType(), False),
                    StructField(seqc, LongType(), False),
                ]
                + [StructField(c, T.BooleanType(), False) for c in adm_cols]
            ),
        )
        keyed = keyed.join(F.broadcast(seq_df), fp, "left")
        for i, (dpath, dseq, eq_ids, _dpv) in enumerate(dels_sorted):
            # ids resolve to DOTTED PATHS through struct nesting; the
            # comparison is at the leaf, flattened to unambiguous
            # aliases on both sides of the anti-join
            pairs = _eq_field_paths(cur_json, eq_ids)
            d_alias = [f"{fp}_eqd{i}_{j}" for j in range(len(pairs))]
            k_alias = [f"{fp}_eqk{i}_{j}" for j in range(len(pairs))]
            eq_df = (
                spark.read.schema(_eq_read_schema(pairs))
                .parquet(_localize(dpath, root))
                .select(
                    *[
                        F.col(p).alias(a)
                        for (p, _t), a in zip(pairs, d_alias)
                    ]
                )
                .dropDuplicates()
            )
            for (p, _t), a in zip(pairs, k_alias):
                keyed = keyed.withColumn(a, F.col(p))
            cond = F.col(adm_cols[i]) & (F.col(seqc) < F.lit(int(dseq)))
            for ka, da in zip(k_alias, d_alias):
                cond = cond & keyed[ka].eqNullSafe(eq_df[da])
            keyed = keyed.join(F.broadcast(eq_df), cond, "left_anti").drop(
                *k_alias
            )
    if row_lineage:
        from urllib.parse import unquote

        from pyspark.sql.types import LongType, StringType, StructField

        frid_c, lseq_c = fp + "_frid", fp + "_lseq"
        lin_df = local_frame(
            spark,
            [
                (
                    os.path.abspath(unquote(_localize(rec[0], root))),
                    int(rec[5]),
                    int(rec[2]),
                )
                for rec in files
            ],
            T.StructType(
                [
                    StructField(fp, StringType(), False),
                    StructField(frid_c, LongType(), False),
                    StructField(lseq_c, LongType(), False),
                ]
            ),
        )
        keyed = (
            keyed.join(F.broadcast(lin_df), fp, "left")
            .withColumn(
                "_row_id",
                F.coalesce(F.col(mat_rid), F.col(frid_c) + F.col(pos)),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(F.col(mat_seq), F.col(lseq_c)),
            )
        )
        out_cols = out_cols + [f.name for f in lineage_fields]
    if _keep_keys is not None:
        return keyed.select(
            *out_cols,
            F.col(fp).alias(_keep_keys[0]),
            F.col(pos).alias(_keep_keys[1]),
        )
    return keyed.select(*out_cols)


def _snapshot_window(meta: dict, from_snapshot_id, to_snapshot_id):
    """(snaps list, lo index, hi index) for ``(from, to]`` — shared
    validation of the incremental/changelog window bounds."""
    snaps = meta.get("snapshots", [])
    ids = [s["snapshot-id"] for s in snaps]
    lo = 0
    if from_snapshot_id is not None:
        if from_snapshot_id not in ids:
            raise ValueError(
                f"from_snapshot_id {from_snapshot_id} not in the retained "
                f"lineage (have {ids})"
            )
        lo = ids.index(from_snapshot_id) + 1
    hi = len(snaps)
    if to_snapshot_id is not None:
        if to_snapshot_id not in ids:
            raise ValueError(
                f"to_snapshot_id {to_snapshot_id} not in the retained "
                f"lineage (have {ids})"
            )
        hi = ids.index(to_snapshot_id) + 1
    if hi < lo:
        raise ValueError("to_snapshot_id precedes from_snapshot_id")
    return snaps, lo, hi


def _changelog_full_state(meta: dict, root: str, snaps: list, idx: int):
    """(data-files map keyed by path, positional delete paths, equality
    delete files, deletion vectors) live at snapshot index ``idx``
    (-1 = before the retained history) — the per-boundary state both
    the batch changelog scan and the changelog STREAM diff (one
    definition so their semantics can never drift)."""
    if idx < 0:
        return {}, [], [], []
    sid = snaps[idx]["snapshot-id"]
    files, pos, eq, dv = _live_files(meta, root, sid)
    return {rec[0]: rec for rec in files}, pos, eq, dv


def read_iceberg_changelog(
    spark: SparkSession,
    root: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Iceberg CHANGELOG scan — row-level INSERTS *and* DELETES for the
    snapshots in ``(from, to]``, each row stamped ``_change_type``
    (``insert``/``delete``), ``_change_ordinal`` (the snapshot's
    position in the window, 0-based) and ``_commit_snapshot_id`` — the
    official runtime's ``table_changes`` shape, which unlike the
    incremental APPEND scan (:func:`read_iceberg_changes`) also
    represents overwrite/replace/delete snapshots.

    Semantics are the spec's FILE-LEVEL diff per snapshot with
    ROW-LEVEL delete REPLAY on top: data files ADDED by a snapshot
    contribute their live rows as inserts, data files REMOVED
    contribute their rows live at the previous boundary as deletes —
    so a copy-on-write overwrite emits delete+insert pairs for carried
    rows, exactly like the official changelog. Unlike the official
    runtime (which refuses any window with live positional / equality
    / deletion-vector files), row-level deletes are REPLAYED: a
    snapshot that strikes rows of a continuing file emits those rows
    as deletes, a file removed while carrying strikes never
    resurrects its struck rows, and rows struck BEFORE the window stay
    invisible throughout.

    Scale shape: the per-snapshot diff is driver-side metadata; the
    window's files go through ONE scan (per schema vintage). With no
    live delete files the three stamps attach via a broadcast (file ->
    stamps) join on the decoded ``_metadata.file_path`` — a file both
    added and later removed inside the window simply carries TWO stamp
    rows and fans out to both change rows in the same scan. With
    deletes, each row's LIVENESS at every boundary state is a boolean
    expression over (a) a broadcast per-file live-flag array, (b) ONE
    broadcast (file, pos) -> strike-source-set join covering every
    positional/DV source (vectors decode on executors), and (c) one
    broadcast value-match flag join per distinct equality-delete file
    (sequence ordering + partition scope folded driver-side); the
    per-transition change rows then come out of a single
    ``array_compact`` + ``explode`` — still one scan, no shuffle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        LongType,
        StringType,
        StructField,
    )

    from .io import decoded_file_path
    from urllib.parse import unquote

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) > 3:
        raise IcebergProtocolError(
            f"format-version {meta['format-version']} > 3 is not supported"
        )
    schema = _table_schema(meta)
    snaps, lo, hi = _snapshot_window(meta, from_snapshot_id, to_snapshot_id)
    nb = hi - lo + 1  # boundary states lo-1 .. hi-1
    bounds = [
        _changelog_full_state(meta, root, snaps, lo - 1 + b)
        for b in range(nb)
    ]
    out_schema = T.StructType(
        list(schema.fields)
        + [
            StructField("_change_type", StringType(), True),
            StructField("_change_ordinal", LongType(), True),
            StructField("_commit_snapshot_id", LongType(), True),
        ]
    )
    fp = "__iceberg_clog_file"
    while fp in schema.names:
        fp = "_" + fp

    def _norm_path(p: str) -> str:
        return os.path.abspath(unquote(_localize(p, root)))

    def _scan_over(recs_map: dict, key_exprs: list):
        """ONE scan over the given files (per schema vintage)."""
        groups = _vintage_groups(meta, list(recs_map.values()))
        if groups is None:
            return spark.read.schema(schema).parquet(
                *sorted(_localize(p, root) for p in recs_map)
            ).select("*", *key_exprs)
        cur_json = _schema_json(meta)
        frames = []
        for vin, vrecs in groups:
            vpaths = sorted(_localize(rec[0], root) for rec in vrecs)
            if vin is None:
                d = spark.read.schema(schema).parquet(*vpaths).select(
                    "*", *key_exprs
                )
            else:
                d = _vintage_scan(
                    spark, schema, cur_json, vin, vpaths, key_exprs
                )
            frames.append(d)
        scan = frames[0]
        for x in frames[1:]:
            scan = scan.unionByName(x)
        return scan

    # REPLACE snapshots (rewrite_iceberg_manifests / rewrite_iceberg_
    # data_files) re-layout metadata or files without changing table
    # content — the official changelog scan skips them entirely, so a
    # compaction never surfaces as phantom delete+insert churn.
    # Ordinals renumber over the EMITTED snapshots (the official
    # "index in the changelog"), not the raw window positions.
    def _is_replace(snap: dict) -> bool:
        return (snap.get("summary") or {}).get("operation") == "replace"

    ordinal_of: dict[int, int] = {}
    for t in range(hi - lo):
        if not _is_replace(snaps[lo + t]):
            ordinal_of[t] = len(ordinal_of)

    if not any(p or e or d for _f, p, e, d in bounds):
        # fast path (no row-level deletes anywhere around the window):
        # pure file-level diff, stamps via one broadcast join
        stamps: list[tuple] = []
        recs: dict[str, tuple] = {}
        for i in range(lo, hi):
            if i - lo not in ordinal_of:
                continue  # replace snapshot: data-neutral
            sid = snaps[i]["snapshot-id"]
            ordn = ordinal_of[i - lo]
            prev_files, cur_files = bounds[i - lo][0], bounds[i - lo + 1][0]
            for p in sorted(set(cur_files) - set(prev_files)):
                stamps.append((p, "insert", ordn, sid))
                recs.setdefault(p, cur_files[p])
            for p in sorted(set(prev_files) - set(cur_files)):
                stamps.append((p, "delete", ordn, sid))
                recs.setdefault(p, prev_files[p])
        if not stamps:
            return local_frame(spark, [], out_schema)
        key_exprs = [
            decoded_file_path(F.col("_metadata.file_path")).alias(fp)
        ]
        scan = _scan_over(recs, key_exprs)
        stamp_df = local_frame(
            spark,
            [(_norm_path(p), ct, o, s_) for p, ct, o, s_ in stamps],
            T.StructType(
                [
                    StructField(fp, StringType(), False),
                    StructField("_change_type", StringType(), False),
                    StructField("_change_ordinal", LongType(), False),
                    StructField("_commit_snapshot_id", LongType(), False),
                ]
            ),
        )
        return scan.join(F.broadcast(stamp_df), fp).drop(fp)

    # ------------------------------------------------------- replay
    if nb < 2:
        return local_frame(spark, [], out_schema)
    # catalog the window's strike sources (delete files are immutable,
    # so identity is by path/offset) and each boundary's live set
    src_spec: list[tuple] = []       # i -> ("p", path) | ("v", dv dict)
    src_ids: dict[tuple, int] = {}
    eq_spec: list[tuple] = []        # i -> (path, seq, eq field ids, pv)
    eq_ids_: dict[str, int] = {}
    b_srcs: list[list[int]] = []     # per boundary, live source ids
    b_eqs: list[list[int]] = []      # per boundary, live eq-file ids
    for _f, pos_b, eq_b, dv_b in bounds:
        cur: list[int] = []
        for p in pos_b:
            k = ("p", p)
            if k not in src_ids:
                src_ids[k] = len(src_spec)
                src_spec.append(("p", p))
            cur.append(src_ids[k])
        for d in dv_b:
            k = ("v", d["path"], int(d.get("offset") or 0))
            if k not in src_ids:
                src_ids[k] = len(src_spec)
                src_spec.append(("v", d))
            cur.append(src_ids[k])
        b_srcs.append(sorted(set(cur)))
        cureq: list[int] = []
        for d in eq_b:
            if d[1] is None:
                raise IcebergProtocolError(
                    "equality deletes present but sequence numbers are "
                    "missing from the manifest metadata; the "
                    "data-vs-delete ordering cannot be established"
                )
            if d[0] not in eq_ids_:
                eq_ids_[d[0]] = len(eq_spec)
                eq_spec.append(d)
            cureq.append(eq_ids_[d[0]])
        b_eqs.append(sorted(set(cureq)))

    # which data files each positional source strikes: DVs name their
    # referenced file in metadata; positional parquet needs its
    # (dictionary-encoded) file_path column — a delete-scale read
    src_targets: list[set[str]] = []
    for kind, d in src_spec:
        if kind == "p":
            import pyarrow.parquet as _pq

            tbl = _pq.read_table(_localize(d, root), columns=["file_path"])
            src_targets.append(
                {_norm_path(v) for v in set(tbl.column("file_path").to_pylist())}
            )
        else:
            src_targets.append({_norm_path(d["referenced"])})

    fmaps = [b[0] for b in bounds]
    recs = {}
    for m in fmaps:
        for p, rec in m.items():
            recs.setdefault(p, rec)
    if eq_spec and any(rec[2] is None for rec in recs.values()):
        raise IcebergProtocolError(
            "equality deletes present but sequence numbers are missing "
            "from the manifest metadata; the data-vs-delete ordering "
            "cannot be established"
        )

    def _eq_admits(rec, i: int) -> bool:
        # spec scoping + ordering: delete file i strikes data file
        # `rec` iff the data sequence predates the delete's and the
        # delete's partition tuple matches on every field it carries
        _dp, dseq, _ids, dpv = eq_spec[i]
        return rec[2] is not None and rec[2] < dseq and all(
            k in rec[1] and rec[1][k] == v for k, v in (dpv or {}).items()
        )

    # scan only files whose LIVENESS can change inside the window:
    # membership varies, a positional strike source appears/vanishes
    # for it, or an applicable equality delete appears/vanishes
    scan_set: set[str] = set()
    for p, rec in recs.items():
        lv = [p in m for m in fmaps]
        if any(v != lv[0] for v in lv):
            scan_set.add(p)
            continue
        key = _norm_path(p)
        sv = [
            frozenset(i for i in b_srcs[b] if key in src_targets[i])
            for b in range(nb)
        ]
        if any(s != sv[0] for s in sv):
            scan_set.add(p)
            continue
        ev = [
            frozenset(i for i in b_eqs[b] if _eq_admits(rec, i))
            for b in range(nb)
        ]
        if any(e != ev[0] for e in ev):
            scan_set.add(p)
    if not scan_set:
        return local_frame(spark, [], out_schema)
    scan_recs = {p: recs[p] for p in scan_set}

    pos_c = fp + "_pos"
    key_exprs = [
        decoded_file_path(F.col("_metadata.file_path")).alias(fp),
        F.col("_metadata.row_index").alias(pos_c),
    ]
    keyed = _scan_over(scan_recs, key_exprs)

    # broadcast per-file facts: live flags per boundary + equality
    # admissibility per delete file (ordering/scope folded here)
    live_c, adm_c = fp + "_live", fp + "_adm"
    lfr = local_frame(
        spark,
        [
            (
                _norm_path(p),
                [p in m for m in fmaps],
                [_eq_admits(rec, i) for i in range(len(eq_spec))],
            )
            for p, rec in sorted(scan_recs.items())
        ],
        T.StructType(
            [
                StructField(fp, StringType(), False),
                StructField(live_c, ArrayType(BooleanType(), False), False),
                StructField(adm_c, ArrayType(BooleanType(), False), False),
            ]
        ),
    )
    keyed = keyed.join(F.broadcast(lfr), fp)

    # ONE broadcast (file, pos) -> strike-source-set join for every
    # positional parquet / deletion-vector source in the window
    srcs_c = fp + "_srcs"
    if src_spec:
        pos_schema = T.StructType(
            [
                StructField("file_path", StringType(), True),
                StructField("pos", LongType(), True),
            ]
        )
        frames = []
        pos_sources = [
            (i, d) for i, (kind, d) in enumerate(src_spec) if kind == "p"
        ]
        for i, p in pos_sources:
            frames.append(
                spark.read.schema(pos_schema)
                .parquet(_localize(p, root))
                .select(
                    decoded_file_path(F.col("file_path")).alias(fp),
                    F.col("pos").alias(pos_c),
                    F.lit(i).cast("long").alias("__src"),
                )
            )
        dv_sources = [
            {**d, "_src": i}
            for i, (kind, d) in enumerate(src_spec)
            if kind == "v"
        ]
        if dv_sources:
            frames.append(
                _dv_deletes_df(
                    spark, root, dv_sources, fp, pos_c, src="__src"
                )
            )
        dels = frames[0]
        for x in frames[1:]:
            dels = dels.unionByName(x)
        strikes = dels.groupBy(fp, pos_c).agg(
            F.collect_set("__src").alias(srcs_c)
        )
        keyed = keyed.join(F.broadcast(strikes), [fp, pos_c], "left")

    # one broadcast value-match flag join per distinct equality file
    eq_match_cols: list[str] = []
    if eq_spec:
        cur_json = _schema_json(meta)
        for i, (dpath, _dseq, eq_idsv, _dpv) in enumerate(eq_spec):
            # ids resolve to DOTTED PATHS through struct nesting (same
            # resolution as the batch read); leaves flatten to aliases
            pairs = _eq_field_paths(cur_json, eq_idsv)
            mcol = f"{fp}_eqm{i}"
            d_alias = [f"{fp}_eq{i}_d{j}" for j in range(len(pairs))]
            k_alias = [f"{fp}_eq{i}_k{j}" for j in range(len(pairs))]
            eq_df = (
                spark.read.schema(_eq_read_schema(pairs))
                .parquet(_localize(dpath, root))
                .select(
                    *[
                        F.col(p).alias(a)
                        for (p, _t), a in zip(pairs, d_alias)
                    ]
                )
                .dropDuplicates()
                .withColumn(mcol, F.lit(True))
            )
            for (p, _t), a in zip(pairs, k_alias):
                keyed = keyed.withColumn(a, F.col(p))
            cond = F.lit(True)
            for ka, da in zip(k_alias, d_alias):
                cond = cond & keyed[ka].eqNullSafe(eq_df[da])
            keyed = keyed.join(F.broadcast(eq_df), cond, "left").drop(
                *d_alias, *k_alias
            )
            eq_match_cols.append(mcol)

    def _struck(b: int):
        e = F.lit(False)
        if src_spec and b_srcs[b]:
            e = e | F.coalesce(
                F.arrays_overlap(
                    F.col(srcs_c),
                    F.array(
                        *[F.lit(i).cast("long") for i in b_srcs[b]]
                    ),
                ),
                F.lit(False),
            )
        for i in b_eqs[b]:
            e = e | (
                F.coalesce(F.col(eq_match_cols[i]), F.lit(False))
                & F.col(adm_c)[i]
            )
        return e

    live = [F.col(live_c)[b] & ~_struck(b) for b in range(nb)]
    chgs = []
    for t in range(nb - 1):
        if t not in ordinal_of:
            continue  # replace snapshot: data-neutral, never emitted
        sid = int(snaps[lo + t]["snapshot-id"])
        ordn = ordinal_of[t]
        chgs.append(
            F.when(
                live[t + 1] & ~live[t],
                F.struct(
                    F.lit("insert").alias("_change_type"),
                    F.lit(ordn).cast("long").alias("_change_ordinal"),
                    F.lit(sid).cast("long").alias("_commit_snapshot_id"),
                ),
            ).when(
                live[t] & ~live[t + 1],
                F.struct(
                    F.lit("delete").alias("_change_type"),
                    F.lit(ordn).cast("long").alias("_change_ordinal"),
                    F.lit(sid).cast("long").alias("_commit_snapshot_id"),
                ),
            )
        )
    if not chgs:
        return local_frame(spark, [], out_schema)
    out_cols = [f.name for f in schema.fields]
    chg = fp + "_chg"
    return keyed.select(
        *out_cols,
        F.explode(F.array_compact(F.array(*chgs))).alias(chg),
    ).select(*out_cols, f"{chg}.*")


def read_iceberg_changes(
    spark: SparkSession,
    root: str,
    from_snapshot_id: int | None = None,
    to_snapshot_id: int | None = None,
    ignore_changes: bool = False,
) -> DataFrame:
    """Iceberg INCREMENTAL APPEND scan as a batch read — the rows the
    snapshots in ``(from_snapshot_id, to_snapshot_id]`` APPENDED, each
    stamped ``_snapshot_id`` (the bounded batch twin of the
    ``iceberg_stream`` source; ``from_snapshot_id=None`` starts before
    the first retained snapshot, ``to_snapshot_id=None`` ends at the
    current one). Per snapshot the added data files are the status-1
    manifest entries stamped with (or inheriting, via the
    manifest-list record's ``added_snapshot_id``) that snapshot's id.

    Non-``append`` snapshots inside the window raise unless
    ``ignore_changes=True`` (then their ADDED data files are processed
    — may re-emit rewritten rows; the official runtime's documented
    trade-off). Delete files are never emitted.

    Scale shape: ONE parquet scan over all added files in the window;
    ``_snapshot_id`` attaches via a broadcast (file -> snapshot) join
    on the decoded ``_metadata.file_path`` — a 1000-snapshot window
    neither unions branches nor re-lists anything."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField

    from .io import decoded_file_path

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    if int(meta.get("format-version", 1)) > 3:
        raise IcebergProtocolError(
            f"format-version {meta['format-version']} > 3 is not supported"
        )
    schema = _table_schema(meta)
    snaps, lo, hi = _snapshot_window(meta, from_snapshot_id, to_snapshot_id)
    file_sid: list[tuple[str, int]] = []
    for snap in snaps[lo:hi]:
        sid = snap["snapshot-id"]
        op = (snap.get("summary") or {}).get("operation", "append")
        if op != "append" and not ignore_changes:
            raise IcebergProtocolError(
                f"snapshot {sid} is {op!r}; an incremental append scan "
                "cannot represent it — pass ignore_changes=True to "
                "process its added files anyway (may re-emit rewritten "
                "rows)"
            )
        if "manifest-list" in snap:
            _s, manifests = read_avro(_localize(snap["manifest-list"], root))
            mrecs = [
                (m["manifest_path"], m.get("content", 0) == 1,
                 m.get("added_snapshot_id"))
                for m in manifests
            ]
        else:
            mrecs = [(p, False, None) for p in snap.get("manifests", [])]
        for mp, is_delete, added_sid in mrecs:
            if is_delete:
                continue
            _s, entries = read_avro(_localize(mp, root))
            for e in entries:
                esid = e.get("snapshot_id")
                esid = added_sid if esid is None else esid
                if e.get("status", 0) != 1 or esid != sid:
                    continue
                df_ = e["data_file"]
                if df_.get("content", 0) != 0:
                    continue
                file_sid.append((_localize(df_["file_path"], root), sid))
    out_schema = T.StructType(
        list(schema.fields) + [StructField("_snapshot_id", LongType(), True)]
    )
    if not file_sid:
        return local_frame(spark, [], out_schema)
    fp = "__iceberg_chg_file"
    while fp in schema.names:
        fp = "_" + fp
    key_exprs = [decoded_file_path(F.col("_metadata.file_path")).alias(fp)]
    groups = _vintage_groups(
        meta, [(p, {}, None, {}, s_) for p, s_ in file_sid]
    )
    if groups is None:
        scan = spark.read.schema(schema).parquet(
            *sorted({p for p, _s2 in file_sid})
        ).select("*", *key_exprs)
    else:
        # schema evolution with renames/promotions inside the window:
        # one scan per write-time vintage projected to the current
        # schema by field id (see _vintage_scan), then unioned
        cur_json = _schema_json(meta)
        frames = []
        for vin, recs in groups:
            vpaths = sorted({rec[0] for rec in recs})
            if vin is None:
                d = spark.read.schema(schema).parquet(*vpaths).select(
                    *schema.names, *key_exprs
                )
            else:
                d = _vintage_scan(
                    spark, schema, cur_json, vin, vpaths, key_exprs
                )
            frames.append(d)
        scan = frames[0]
        for x in frames[1:]:
            scan = scan.unionByName(x)
    map_df = local_frame(
        spark,
        # same normalization as the scan side's decoded_file_path (%XX
        # decoded, '+' preserved): a percent-escaped data-file path
        # would otherwise miss the INNER stamp join and silently drop
        # the whole file from the incremental batch
        [
            (os.path.abspath(_unquote(p)), int(s_))
            for p, s_ in file_sid
        ],
        T.StructType(
            [
                StructField(fp, StringType(), False),
                StructField("_snapshot_id", LongType(), False),
            ]
        ),
    )
    return scan.join(F.broadcast(map_df), fp).drop(fp)


def _schema_json(meta: dict) -> dict:
    """The CURRENT Iceberg schema JSON (with field ids), v1 or v2."""
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise ValueError(f"current-schema-id {sid} not in schemas")
    return meta["schema"]


#: spec-shaped positional-delete file schema: (file_path, pos) sorted
POS_DELETE_COLS = ("file_path", "pos")


def append_equality_deletes(
    root: str, rows: list[dict], eq_cols: list[str]
) -> int:
    """Append ONE v2 snapshot that EQUALITY-deletes every data row
    whose ``eq_cols`` values null-safely match some row in ``rows`` —
    the Flink-CDC-shaped foreign-writer surface: a parquet delete file
    of the equality columns, a DELETE manifest (content=2,
    equality_ids), and a manifest list whose sequence numbers order
    the delete AFTER every current data file. ``eq_cols`` (and the
    ``rows`` dict keys) may be DOTTED PATHS into struct nesting
    (``"profile.seg"``): the delete file is then written with the real
    nested struct shells, exactly like a nested-equality writer. Data manifests copied
    from the current snapshot keep their sequence numbers (or inherit
    the export convention); the new snapshot's sequence number is
    max+1. Returns the new snapshot id."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro_ocf import write_avro

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    cur = next(
        s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, manifests = read_avro(_localize(cur["manifest-list"], root))
    sid = max(s["snapshot-id"] for s in snaps) + 1
    # columns may be DOTTED PATHS into struct nesting (the spec allows
    # equality ids on any primitive field not under a list/map)
    path2id = {
        p: i for i, (p, _t) in _eq_schema_index(_schema_json(meta)).items()
    }
    try:
        eq_ids = [path2id[c] for c in eq_cols]
    except KeyError as e:
        raise ValueError(f"equality column {e} not in the table schema") from None
    pairs = _eq_field_paths(_schema_json(meta), eq_ids)
    mdir = os.path.join(root, "metadata")
    del_path = os.path.join(mdir, f"eq-delete-{sid}.parquet")
    import pyspark.sql.types as _T

    def _pa_type(dt):
        m = {
            _T.LongType: pa.int64(), _T.IntegerType: pa.int32(),
            _T.DoubleType: pa.float64(), _T.FloatType: pa.float32(),
            _T.StringType: pa.string(), _T.BooleanType: pa.bool_(),
        }
        for k, v in m.items():
            if isinstance(dt, k):
                return v
        raise ValueError(f"unsupported equality-delete column type {dt}")

    # nested paths wrap back into their struct shells — the same
    # nested parquet shape a real equality-deleting writer produces
    tree: dict = {}
    for c, (_p, tj) in zip(eq_cols, pairs):
        parts = c.split(".")
        d = tree
        for p in parts[:-1]:
            d = d.setdefault(p, {})
        d[parts[-1]] = ("leaf", c, tj)

    def _arr(node):
        if isinstance(node, tuple) and node[0] == "leaf":
            _tag, c, tj = node
            return pa.array(
                [r.get(c) for r in rows], type=_pa_type(_spark_type(tj))
            )
        names = list(node)
        return pa.StructArray.from_arrays(
            [_arr(node[n]) for n in names], names
        )

    pq.write_table(
        pa.table({n: _arr(tree[n]) for n in tree}),
        del_path,
    )
    del_manifest = os.path.join(mdir, f"manifest-eqdel-{sid}.avro")
    write_avro(
        del_manifest,
        MANIFEST_ENTRY_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": sid,
                "data_file": {
                    "content": 2,
                    "file_path": del_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(rows),
                    "file_size_in_bytes": os.path.getsize(del_path),
                    "equality_ids": eq_ids,
                },
            }
        ],
    )
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [{"sequence_number": None, **m} for m in manifests]
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": os.path.getsize(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": sid,
                "sequence_number": sid,
            }
        ],
    )
    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["snapshots"] = snaps + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "timestamp-ms": int(time.time() * 1000),
            "summary": {"operation": "delete"},
            "manifest-list": mlist,
            "schema-id": 0,
        }
    ]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = sid
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid


def append_deletion_vectors(
    root: str, deletes: dict[str, list[int]]
) -> int:
    """Append ONE format-v3 snapshot that deletes rows via DELETION
    VECTORS — the v3 foreign-writer surface (what a v3 Spark/Trino
    DELETE commits): one Puffin file holding a ``deletion-vector-v1``
    blob per data file (sources/puffin.py), a DELETE manifest whose
    PUFFIN entries carry ``referenced_data_file`` / ``content_offset``
    / ``content_size_in_bytes`` (spec fields 143–145), a manifest list
    reusing the current snapshot's data manifests, and a new
    ``vN.metadata.json`` stamped ``format-version: 3``. ``deletes``
    maps data file path -> deleted row ordinals. Returns the new
    snapshot id. Fixture/test surface; the engine's own mutation path
    remains SnapshotTable."""
    import time

    from .avro_ocf import write_avro
    from .puffin import dv_blob_encode, write_puffin

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    cur = next(
        s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, manifests = read_avro(_localize(cur["manifest-list"], root))
    sid = max(s["snapshot-id"] for s in snaps) + 1
    mdir = os.path.join(root, "metadata")
    puffin_path = os.path.join(mdir, f"dv-{sid}.puffin")
    ordered = sorted(deletes.items())
    descs = write_puffin(
        puffin_path,
        [
            {
                "type": "deletion-vector-v1",
                "data": dv_blob_encode(list(posns)),
                "snapshot-id": sid,
                "sequence-number": sid,
                "properties": {
                    "referenced-data-file": path,
                    "cardinality": str(len(set(posns))),
                },
            }
            for path, posns in ordered
        ],
    )
    del_manifest = os.path.join(mdir, f"manifest-dv-{sid}.avro")
    write_avro(
        del_manifest,
        MANIFEST_ENTRY_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": sid,
                "data_file": {
                    "content": 1,
                    "file_path": puffin_path,
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": len(set(posns)),
                    "file_size_in_bytes": os.path.getsize(puffin_path),
                    "equality_ids": None,
                    "referenced_data_file": path,
                    "content_offset": d["offset"],
                    "content_size_in_bytes": d["length"],
                },
            }
            for (path, posns), d in zip(ordered, descs)
        ],
    )
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [{"sequence_number": None, **m} for m in manifests]
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": os.path.getsize(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": sid,
                "sequence_number": sid,
            }
        ],
    )
    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["format-version"] = 3
    meta["snapshots"] = snaps + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "timestamp-ms": int(time.time() * 1000),
            "summary": {"operation": "delete"},
            "manifest-list": mlist,
            "schema-id": 0,
        }
    ]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = sid
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid


def append_position_deletes(
    root: str, deletes: list[tuple[str, int]]
) -> int:
    """Append ONE v2 snapshot that positionally deletes ``(data file
    path, row ordinal)`` pairs — the minimal foreign-writer surface
    (what a Spark/Flink/Trino DELETE commits): a parquet delete file
    sorted by (file_path, pos), a DELETE manifest (``content=1``), a
    manifest list reusing the current snapshot's data manifests, and a
    new ``vN.metadata.json`` + ``version-hint.text``. Returns the new
    snapshot id. Used by the s20 fixture and tests; the engine's own
    mutation path remains SnapshotTable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro_ocf import write_avro

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    cur = next(
        s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, manifests = read_avro(_localize(cur["manifest-list"], root))
    sid = max(s["snapshot-id"] for s in snaps) + 1
    mdir = os.path.join(root, "metadata")
    rows = sorted((str(p), int(x)) for p, x in deletes)
    del_path = os.path.join(mdir, f"pos-delete-{sid}.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": [r[0] for r in rows],
                "pos": pa.array([r[1] for r in rows], type=pa.int64()),
            }
        ),
        del_path,
    )
    del_manifest = os.path.join(mdir, f"manifest-del-{sid}.avro")
    write_avro(
        del_manifest,
        MANIFEST_ENTRY_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": sid,
                "data_file": {
                    "content": 1,
                    "file_path": del_path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": len(rows),
                    "file_size_in_bytes": os.path.getsize(del_path),
                    "equality_ids": None,
                },
            }
        ],
    )
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [{"sequence_number": None, **m} for m in manifests]
        + [
            {
                "manifest_path": del_manifest,
                "manifest_length": os.path.getsize(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "added_snapshot_id": sid,
                "sequence_number": sid,
            }
        ],
    )
    import time

    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["snapshots"] = snaps + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "timestamp-ms": int(time.time() * 1000),
            "summary": {"operation": "delete"},
            "manifest-list": mlist,
            "schema-id": 0,
        }
    ]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = sid
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid

def commit_schema_evolution(
    root: str,
    new_fields: list[dict],
    added_files: list[tuple[str, int]] | None = None,
) -> int:
    """Commit a NEW CURRENT SCHEMA (the foreign-writer shape of
    ``ALTER TABLE`` rename/add/drop/promote: the new schema is
    appended to ``schemas`` under a fresh schema-id, field ids are the
    identity thread) and, when ``added_files`` is given, ONE append
    snapshot of files WRITTEN UNDER the new schema (data manifest +
    manifest list reusing the current snapshot's manifests; the
    snapshot's ``schema-id`` stamps the vintage readers resolve by).
    ``new_fields`` is the full top-level field list
    (``{"id", "name", "type", "required"?}``); ``added_files`` is
    ``[(file_path, record_count), ...]``. Returns the new snapshot id
    (the current one when no files were added). Fixture/test surface;
    the engine's own mutation path remains SnapshotTable."""
    import time

    from .avro_ocf import write_avro

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    new_schema_id = (
        max(s.get("schema-id", 0) for s in meta.get("schemas", [{}])) + 1
    )
    schema_json = {
        "type": "struct",
        "schema-id": new_schema_id,
        "fields": [dict(f) for f in new_fields],
    }
    meta.setdefault("schemas", []).append(schema_json)
    meta["current-schema-id"] = new_schema_id
    meta["last-column-id"] = max(
        [_max_field_id(new_fields)] + [int(meta.get("last-column-id", 0))]
    )
    mdir = os.path.join(root, "metadata")
    sid = meta.get("current-snapshot-id")
    if added_files:
        cur = next(
            s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _s, manifests = read_avro(_localize(cur["manifest-list"], root))
        sid = max(s["snapshot-id"] for s in snaps) + 1
        manifest = os.path.join(mdir, f"manifest-evo-{sid}.avro")
        write_avro(
            manifest,
            MANIFEST_ENTRY_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "data_file": {
                        "content": 0,
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": int(n),
                        "file_size_in_bytes": os.path.getsize(
                            _localize(p, root)
                        ),
                        "equality_ids": None,
                    },
                }
                for p, n in added_files
            ],
        )
        mlist = os.path.join(mdir, f"snap-{sid}.avro")
        write_avro(
            mlist,
            MANIFEST_FILE_SCHEMA,
            [{"sequence_number": None, **m} for m in manifests]
            + [
                {
                    "manifest_path": manifest,
                    "manifest_length": os.path.getsize(manifest),
                    "partition_spec_id": 0,
                    "content": 0,
                    "added_snapshot_id": sid,
                    "sequence_number": sid,
                }
            ],
        )
        meta["snapshots"] = snaps + [
            {
                "snapshot-id": sid,
                "parent-snapshot-id": meta.get("current-snapshot-id"),
                "timestamp-ms": int(time.time() * 1000),
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": new_schema_id,
            }
        ]
        meta["current-snapshot-id"] = sid
        meta["last-sequence-number"] = sid
    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid


def expire_iceberg_snapshots(
    root: str,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    delete_data_files: bool = False,
) -> list[int]:
    """EXPIRE old snapshots — the retention maintenance every long-lived
    Iceberg table needs (metadata grows one manifest list per commit
    forever otherwise): snapshots selected by ``keep_last=N`` (all but
    the newest N) and/or ``older_than_ms`` (timestamp cutoff; both
    given = AND, matching the official ``expireSnapshots`` surface) are
    removed from the metadata's ``snapshots`` list, and files
    referenced ONLY by expired snapshots are garbage-collected.
    Returns the expired snapshot ids (empty when nothing qualifies).

    PROTECTED snapshots are never expired whatever the criteria: the
    current snapshot and every snapshot pinned by a named ref
    (branches/tags) — the same guarantee the official runtime makes.

    GC scope: orphaned manifest lists / manifests / metadata-dir files
    (equality-delete parquet, Puffin vectors under ``metadata/``) are
    always deleted — the export owns them. Orphaned DATA files are
    deleted only with ``delete_data_files=True``: a zero-copy
    ``export_iceberg`` SHARES the host SnapshotTable's parquet files,
    and deleting them would corrupt the host table's own time travel —
    pass True only for self-contained tables.

    Interplay, by design: time travel / incremental / changelog reads
    naming an expired snapshot raise (``not in the retained lineage``);
    a STREAM checkpointed across the expiry detects the lineage change
    and demands a restart (its offset pins ``(position, snapshot id)``).
    At 100 TB this is the difference between a manifest-list listing
    that stays KB-scale and one that grows without bound."""
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    if keep_last is None and older_than_ms is None:
        raise ValueError(
            "pass keep_last= and/or older_than_ms= (expiring everything "
            "is never what a retention policy means)"
        )
    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    import time as _time

    now_ms = int(_time.time() * 1000)
    snaps_by_id = {int(s["snapshot-id"]): s for s in snaps}

    def _ts(sid: int) -> int:
        return int(snaps_by_id.get(sid, {}).get("timestamp-ms") or 0)

    # spec ref retention (§Snapshot References): a ref declaring
    # max-ref-age-ms EXPIRES with this pass once its snapshot is older
    # (main never expires); surviving refs protect their snapshot,
    # and BRANCHES additionally protect their ancestor history per
    # min-snapshots-to-keep / max-snapshot-age-ms
    refs = dict(meta.get("refs") or {})
    refs_dropped = False
    for nm in sorted(refs):
        if nm == "main":
            continue
        mra = refs[nm].get("max-ref-age-ms")
        if mra is not None and now_ms - _ts(
            int(refs[nm]["snapshot-id"])
        ) > int(mra):
            del refs[nm]
            refs_dropped = True
    meta["refs"] = refs
    protected = {int(meta["current-snapshot-id"])}
    for r in refs.values():
        head = int(r["snapshot-id"])
        protected.add(head)
        if r.get("type") != "branch":
            continue
        keep_n = int(r.get("min-snapshots-to-keep") or 1)
        msa = r.get("max-snapshot-age-ms")
        chain: list[int] = []
        cur_sid: int | None = head
        seen: set[int] = set()
        while cur_sid is not None and cur_sid in snaps_by_id \
                and cur_sid not in seen:
            chain.append(cur_sid)
            seen.add(cur_sid)
            p = snaps_by_id[cur_sid].get("parent-snapshot-id")
            cur_sid = int(p) if p is not None else None
        for i, sid in enumerate(chain):
            if i < keep_n or (
                msa is not None and now_ms - _ts(sid) <= int(msa)
            ):
                protected.add(sid)
    keep_tail = (
        {s["snapshot-id"] for s in snaps[-keep_last:]}
        if keep_last is not None
        else set()
    )
    expired: list[int] = []
    for s in snaps:
        sid = s["snapshot-id"]
        if sid in protected or sid in keep_tail:
            continue
        if (
            older_than_ms is not None
            and int(s.get("timestamp-ms") or 0) >= older_than_ms
        ):
            continue
        expired.append(sid)
    if not expired:
        if refs_dropped:
            # no snapshot qualified, but aged-out refs must still be
            # REMOVED DURABLY — returning without the metadata write
            # would resurrect them on the next read, contradicting the
            # max-ref-age-ms contract
            mdir0 = os.path.abspath(
                os.path.dirname(_metadata_path(root))
            )
            version = int(
                meta.get("_export_version", len(snaps))
            ) + 1
            meta["_export_version"] = version
            with open(
                os.path.join(mdir0, f"v{version}.metadata.json"), "w"
            ) as f:
                json.dump(meta, f)
            _advance_version_hint(mdir0, version)
        return []
    exp_set = set(expired)
    retained = [s for s in snaps if s["snapshot-id"] not in exp_set]

    # memoize avro reads: snapshots share most manifests (the export
    # carries untouched manifests by path), so without a cache an
    # expiry over N snapshots re-parses each shared manifest N times
    _avro_cache: dict[str, list] = {}

    def _read(path: str) -> list:
        if path not in _avro_cache:
            _avro_cache[path] = read_avro(path)[1]
        return _avro_cache[path]

    def _referenced(snap: dict, live_only: bool) -> set[str]:
        # live_only (the KEEP side): a retained manifest's status-2
        # DELETED entry is a tombstone, not a reference — no retained
        # read ever opens that file, so it must not pin the bytes
        out = set()
        ml = os.path.abspath(_localize(snap["manifest-list"], root))
        out.add(ml)
        for m in _read(ml):
            mp = os.path.abspath(_localize(m["manifest_path"], root))
            out.add(mp)
            for e in _read(mp):
                if live_only and e.get("status", 0) == 2:
                    continue
                out.add(
                    os.path.abspath(
                        _unquote(_localize(e["data_file"]["file_path"], root))
                    )
                )
        return out

    keep_files: set[str] = set()
    for s in retained:
        keep_files |= _referenced(s, live_only=True)
    drop_files: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] in exp_set:
            drop_files |= _referenced(s, live_only=False)
    mdir = os.path.abspath(os.path.dirname(_metadata_path(root)))
    removed = 0
    for p in sorted(drop_files - keep_files):
        under_meta = p.startswith(mdir + os.sep)
        if not under_meta and not delete_data_files:
            continue  # shared zero-copy data file: the host table's
        try:
            os.remove(p)
            removed += 1
        except FileNotFoundError:
            pass
    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["snapshots"] = retained
    if "snapshot-log" in meta:
        meta["snapshot-log"] = [
            e
            for e in meta["snapshot-log"]
            if e.get("snapshot-id") not in exp_set
        ]
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return expired


def rewrite_iceberg_manifests(root: str) -> int | None:
    """COMPACT the current snapshot's DATA manifests into ONE — the
    ``rewriteManifests`` maintenance action every long-lived Iceberg
    table needs next to :func:`expire_iceberg_snapshots`: incremental
    exports append one manifest per commit, and every read parses all
    of them, so manifest COUNT (not size) becomes the planning cost.
    All data-manifest entries are carried into a single new manifest
    as status-0 EXISTING rows with EXPLICIT sequence numbers (the v2
    spec grants manifest-list inheritance only to ADDED entries — the
    same stamping the export's tombstone rewrite performs), so
    equality-delete ordering and v3 row lineage survive byte-exactly;
    DELETE manifests are carried as-is (their content is ordering
    metadata, not data). A new snapshot commits with operation
    ``replace`` — data-file set UNCHANGED, so the changelog emits
    ZERO rows for it and time travel to earlier snapshots still reads
    the old manifests (never mutated). The append STREAM gates on the
    non-append snapshot exactly like real Iceberg streaming's default
    (set ``ignoreChanges=true`` to pass it; it contributes zero added
    files either way). Returns the new snapshot id (None when the
    current snapshot already has <= 1 data manifest)."""
    import time

    from .avro_ocf import write_avro

    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = meta.get("snapshots", [])
    if not snaps:
        return None
    cur = next(
        s for s in snaps if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, manifests = read_avro(_localize(cur["manifest-list"], root))
    data_m = [m for m in manifests if m.get("content", 0) == 0]
    delete_m = [m for m in manifests if m.get("content", 0) == 1]
    if len(data_m) <= 1:
        return None
    sid = max(s["snapshot-id"] for s in snaps) + 1
    entries_out: list[dict] = []
    for mrec in data_m:
        mseq = mrec.get("sequence_number")
        _s2, entries = read_avro(_localize(mrec["manifest_path"], root))
        for e in entries:
            if e.get("status", 0) == 2:
                continue  # tombstones carry no live state forward
            seq = e.get("sequence_number")
            seq = mseq if seq is None else seq
            fseq = e.get("file_sequence_number")
            entries_out.append(
                {
                    **e,
                    "status": 0,
                    "sequence_number": seq,
                    "file_sequence_number": seq if fseq is None else fseq,
                }
            )
    mdir = os.path.join(root, "metadata")
    merged = os.path.join(mdir, f"manifest-rw-{sid}.avro")
    write_avro(merged, MANIFEST_ENTRY_SCHEMA, entries_out)
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": merged,
                "manifest_length": os.path.getsize(merged),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": sid,
                # the merged manifest's own sequence number must NOT be
                # inherited by its EXISTING entries (each carries its
                # explicit original); list-level it records the commit
                "sequence_number": sid,
            }
        ]
        + [{"sequence_number": None, **m} for m in delete_m],
    )
    version = int(meta.get("_export_version", len(snaps))) + 1
    meta["snapshots"] = snaps + [
        {
            "snapshot-id": sid,
            "parent-snapshot-id": meta.get("current-snapshot-id"),
            "timestamp-ms": int(time.time() * 1000),
            "summary": {"operation": "replace"},
            "manifest-list": mlist,
            "schema-id": cur.get("schema-id", 0),
        }
    ]
    meta["current-snapshot-id"] = sid
    meta["last-sequence-number"] = max(
        int(meta.get("last-sequence-number", 0)), sid
    )
    meta["_export_version"] = version
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return sid


def set_iceberg_ref(
    root: str,
    name: str,
    snapshot_id: int | None = None,
    type: str = "tag",
    max_ref_age_ms: int | None = None,
    max_snapshot_age_ms: int | None = None,
    min_snapshots_to_keep: int | None = None,
) -> int:
    """Create or move a NAMED REF (spec §Table Metadata ``refs``): a
    ``tag`` pins a snapshot forever (releases, audits), a ``branch``
    is a movable head. The write surface completing the read path's
    ``read_iceberg(ref=)`` and :func:`expire_iceberg_snapshots`'s
    ref protection — a tagged snapshot survives any expiry until the
    ref is dropped. ``snapshot_id`` defaults to the current snapshot.
    Metadata-only (a new ``vN.metadata.json`` + hint); returns the
    pinned snapshot id.

    RETENTION fields (spec §Snapshot References, consumed by
    :func:`expire_iceberg_snapshots`): ``max_ref_age_ms`` expires the
    REF itself once the referenced snapshot is older (never the main
    branch); for branches, ``min_snapshots_to_keep`` /
    ``max_snapshot_age_ms`` protect the branch's ANCESTOR history —
    at least N newest ancestors, plus every ancestor younger than the
    age cutoff. Branch-only fields on a tag raise."""
    if type not in ("tag", "branch"):
        raise ValueError(f"ref type must be 'tag' or 'branch', got {type!r}")
    if type == "tag" and (
        max_snapshot_age_ms is not None or min_snapshots_to_keep is not None
    ):
        raise ValueError(
            "max_snapshot_age_ms / min_snapshots_to_keep are branch-only "
            "retention fields (a tag pins exactly one snapshot)"
        )
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    snaps = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    sid = snapshot_id if snapshot_id is not None else meta.get(
        "current-snapshot-id"
    )
    if sid not in snaps:
        raise ValueError(f"snapshot {sid} not found (have {sorted(snaps)})")
    refs = dict(meta.get("refs") or {})
    rec: dict = {"snapshot-id": int(sid), "type": type}
    if max_ref_age_ms is not None:
        rec["max-ref-age-ms"] = int(max_ref_age_ms)
    if max_snapshot_age_ms is not None:
        rec["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
    if min_snapshots_to_keep is not None:
        rec["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
    refs[name] = rec
    meta["refs"] = refs
    version = int(meta.get("_export_version", len(meta.get("snapshots", [])))) + 1
    meta["_export_version"] = version
    mdir = os.path.join(root, "metadata")
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)
    return int(sid)


def drop_iceberg_ref(root: str, name: str) -> None:
    """Remove a named ref; the snapshot it pinned becomes expirable by
    the next :func:`expire_iceberg_snapshots`. Unknown names raise."""
    with open(_metadata_path(root)) as f:
        meta = json.load(f)
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"ref {name!r} not found (have {sorted(refs)})")
    del refs[name]
    meta["refs"] = refs
    version = int(meta.get("_export_version", len(meta.get("snapshots", [])))) + 1
    meta["_export_version"] = version
    mdir = os.path.join(root, "metadata")
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    _advance_version_hint(mdir, version)


def publish_iceberg_wap(
    root: str, branch: str | None = None, retain_branch: bool = False,
    _retries: int = 10, wap_id: str | None = None,
) -> dict:
    """PUBLISH a staged audit branch to main — the publish half of
    WRITE-AUDIT-PUBLISH (``export_iceberg(branch=)`` stages, the audit
    reads ``ref=branch``, this lands it). Two modes, validated:

    * **fast-forward** — main's current snapshot is an ANCESTOR of the
      branch head (nothing landed on main since staging): main's
      pointer moves to the staged head, zero new files. The common
      case; any chain length.
    * **cherry-pick** — main ADVANCED since staging. Valid only for a
      SINGLE staged APPEND snapshot forked from main's ancestry: a new
      snapshot is committed whose manifest list is main's CURRENT
      manifests plus the staged snapshot's ADDED manifests (shared by
      path, re-sequenced to the new snapshot — the staged files take a
      data sequence AFTER everything on main, exactly real Iceberg's
      ``cherrypick_snapshot``). An overwrite/delete staged snapshot
      (its tombstones were computed against a stale base), a
      multi-commit divergent chain, or a branch with no common
      ancestor REFUSES with :class:`IcebergProtocolError` — publish
      fails cleanly rather than silently dropping main's commits.

    ``wap_id`` publishes the OTHER staging flavor
    (``export_iceberg(wap_id=)``: a ref-less snapshot whose summary
    carries ``wap.id``): the staged snapshot resolves by id, the same
    fast-forward/cherry-pick rules apply, the published snapshot
    records ``published-wap-id``, and a DOUBLE publish of the same id
    refuses (the spec's cherrypick duplicate check). Exactly one of
    ``branch`` / ``wap_id`` is required.

    A rejected audit never needs this function: :func:`drop_iceberg_ref`
    un-pins the staged branch snapshot (a rejected wap snapshot is
    simply left unreferenced) and the next expiry collects it — the
    staged rows were never reachable from main. On success the audit
    branch is dropped (its job is done) unless ``retain_branch``.

    The commit is the same metadata CAS every writer uses
    (put-if-absent on ``vN.metadata.json``, refresh-and-retry on loss).
    Metadata-only: at 100 TB a publish moves a pointer and (cherry-pick)
    writes one manifest-list avro; no data I/O. Returns
    ``{"snapshot_id", "mode"}``."""
    import time
    import uuid as _uuid

    from .avro_ocf import read_avro as _read, write_avro as _write

    if (branch is None) == (wap_id is None):
        raise ValueError(
            "publish_iceberg_wap needs exactly one of branch / wap_id"
        )
    mdir = os.path.join(root, "metadata")
    latest = _latest_metadata_path(root)
    if latest is None:
        raise IcebergProtocolError(f"no Iceberg metadata under {root}")
    with open(latest) as f:
        meta = json.load(f)
    refs = dict(meta.get("refs") or {})
    main = int(meta["current-snapshot-id"])
    snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
    if branch is not None:
        if branch not in refs:
            raise IcebergProtocolError(
                f"audit branch {branch!r} not found (have {sorted(refs)})"
            )
        if refs[branch].get("type") != "branch":
            raise IcebergProtocolError(
                f"ref {branch!r} is a tag, not a branch"
            )
        staged = int(refs[branch]["snapshot-id"])
        if staged not in snaps:
            raise IcebergProtocolError(
                f"branch {branch!r} points at unknown snapshot {staged}"
            )

    def ancestry(sid: int) -> list[int]:
        chain, seen = [], set()
        cur: int | None = sid
        while cur is not None and cur in snaps and cur not in seen:
            chain.append(cur)
            seen.add(cur)
            p = snaps[cur].get("parent-snapshot-id")
            cur = int(p) if p is not None else None
        return chain

    main_ancestry = set(ancestry(main))
    if wap_id is not None:
        # duplicate-publish check FIRST: a main-reachable snapshot that
        # staged or published this id means the work already landed
        for a in main_ancestry:
            summ = snaps[a].get("summary") or {}
            if str(wap_id) in (summ.get("wap.id"),
                               summ.get("published-wap-id")):
                raise IcebergProtocolError(
                    f"wap.id {wap_id!r} was already published "
                    f"(snapshot {a} on main)"
                )
        cands = sorted(
            s for s, rec in snaps.items()
            if (rec.get("summary") or {}).get("wap.id") == str(wap_id)
            and s not in main_ancestry
        )
        if not cands:
            raise IcebergProtocolError(
                f"no staged snapshot carries wap.id {wap_id!r}"
            )
        if len(cands) > 1:
            raise IcebergProtocolError(
                f"wap.id {wap_id!r} is ambiguous: staged snapshots "
                f"{cands} all carry it — stage with unique ids"
            )
        staged = cands[0]
    staged_chain = ancestry(staged)

    if staged == main:
        mode, new_sid, new_snap = "noop", main, None
    elif main in staged_chain:
        # FAST-FORWARD: main never advanced past the staging base
        mode, new_sid, new_snap = "fast-forward", staged, None
    else:
        # main advanced — cherry-pick path, strictly validated
        label = (
            f"branch {branch!r}" if branch is not None
            else f"wap.id {wap_id!r}"
        )
        fork = next((s for s in staged_chain if s in main_ancestry), None)
        if fork is None:
            raise IcebergProtocolError(
                f"cannot publish {label}: no common ancestor "
                f"with main ({main}) — divergent history cannot be "
                "replayed safely"
            )
        above = staged_chain[: staged_chain.index(fork)]
        if len(above) != 1:
            raise IcebergProtocolError(
                f"cannot publish {label}: main advanced past "
                f"the staging base and the staged line holds {len(above)} "
                "commits — cherry-pick replays exactly one; re-stage "
                "against current main"
            )
        srec = snaps[staged]
        op = (srec.get("summary") or {}).get("operation")
        if op != "append":
            raise IcebergProtocolError(
                f"cannot publish {label}: main advanced past "
                f"the staging base and the staged snapshot is "
                f"{op or 'unknown'!r} — its removed-file tombstones "
                "were computed against a stale base; only APPEND "
                "snapshots cherry-pick (re-stage against current main)"
            )
        mode = "cherry-pick"
        new_sid = max(snaps) + 1
        _s, staged_ml = _read(_localize(srec["manifest-list"], root))
        added = [
            dict(r) for r in staged_ml
            if r.get("added_snapshot_id") == staged
            and r.get("content", 0) == 0
        ]
        _s, main_ml = _read(
            _localize(snaps[main]["manifest-list"], root)
        )
        for r in added:
            # the replayed files take a data sequence AFTER everything
            # on main (entries inherit from the manifest-list record)
            r["sequence_number"] = new_sid
            r["added_snapshot_id"] = new_sid
        attempt = _uuid.uuid4().hex[:12]
        mlist = os.path.join(mdir, f"snap-{new_sid}-{attempt}.avro")
        _write(mlist, MANIFEST_FILE_SCHEMA,
               [dict(r) for r in main_ml] + added)
        new_snap = {
            "snapshot-id": new_sid,
            "parent-snapshot-id": main,
            "timestamp-ms": int(time.time() * 1000),
            "summary": {
                "operation": "append",
                "wap.published-from": str(staged),
                **({"published-wap-id": str(wap_id)}
                   if wap_id is not None else {}),
            },
            "manifest-list": mlist,
            "schema-id": snaps[main].get("schema-id", 0),
        }

    if mode == "noop":
        if branch is not None and not retain_branch:
            drop_iceberg_ref(root, branch)
        return {"snapshot_id": main, "mode": mode}

    new_meta = dict(meta)
    if new_snap is not None:
        new_meta["snapshots"] = list(meta.get("snapshots", [])) + [new_snap]
        new_meta["last-sequence-number"] = max(
            int(meta.get("last-sequence-number", 0)), new_sid
        )
    new_meta["current-snapshot-id"] = new_sid
    new_meta["last-updated-ms"] = int(time.time() * 1000)
    refs = dict(new_meta.get("refs") or {})
    if branch is not None:
        if retain_branch:
            refs[branch] = {"snapshot-id": new_sid, "type": "branch"}
        else:
            refs.pop(branch, None)
    if "main" in refs and refs["main"].get("type") == "branch":
        refs["main"] = {"snapshot-id": new_sid, "type": "branch"}
    new_meta["refs"] = refs
    m = re.match(r"^v?(\d+)\.metadata\.json$", os.path.basename(latest))
    file_v = int(m.group(1)) if m else 0
    version = max(
        int(meta.get("_export_version", len(snaps))), file_v
    ) + 1
    new_meta["_export_version"] = version
    try:
        with open(
            os.path.join(mdir, f"v{version}.metadata.json"), "x"
        ) as f:
            json.dump(new_meta, f)
    except FileExistsError:
        if new_snap is not None:
            with contextlib.suppress(FileNotFoundError):
                os.remove(new_snap["manifest-list"])
        if _retries <= 0:
            raise IcebergProtocolError(
                f"publish_iceberg_wap lost the metadata CAS at version "
                f"{version} ten times in a row"
            ) from None
        return publish_iceberg_wap(
            root, branch, retain_branch=retain_branch,
            _retries=_retries - 1, wap_id=wap_id,
        )
    _advance_version_hint(mdir, version)
    return {"snapshot_id": new_sid, "mode": mode}
