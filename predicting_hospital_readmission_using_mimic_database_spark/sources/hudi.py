"""Apache Hudi table READ interop — the third lakehouse format,
implemented from the public spec (https://hudi.apache.org/docs/ and
https://hudi.apache.org/tech-specs/): timeline + file-group layout.
COPY_ON_WRITE snapshots read base files; MERGE_ON_READ snapshots merge
base files with log-file upsert blocks (codec in :mod:`.hudi_log`).

How a Hudi COW snapshot read works (and what this reader does):

1. ``.hoodie/hoodie.properties`` declares the table type —
   ``COPY_ON_WRITE`` reads base files only; ``MERGE_ON_READ`` routes
   to :func:`_read_mor` (deltacommit timeline, executor-side log
   decode, per-key last-writer-wins merge; DELETE blocks fold in as
   tombstones, rollback COMMAND blocks raise).
2. The TIMELINE is the set of ``.hoodie/<instant>.commit`` files;
   an instant is COMPLETED only when the bare ``.commit`` file exists
   (``.requested`` / ``.inflight`` are pending and their data files
   must be invisible — that is Hudi's snapshot isolation).
   ``replacecommit`` instants (clustering / insert_overwrite) commit
   their NEW file groups like any commit, and their metadata's
   ``partitionToReplaceFileIds`` map retires the groups they replace
   (invisible at and after the instant, visible to earlier time
   travel); unparseable replace metadata raises rather than risking
   double-reads.
3. Data files are ``<partition>/<fileId>_<writeToken>_<instant>.parquet``;
   a FILE GROUP is all versions of one ``fileId``, and the snapshot is,
   per group, the single base file with the latest completed instant
   (<= ``as_of`` for time travel). Older versions stay on disk for
   older readers — exactly the SnapshotTable/Delta dead-file story,
   encoded in file names instead of a log.

Hudi writes its five ``_hoodie_*`` meta columns into every parquet
file; they are dropped by default (``keep_meta=True`` keeps them). The
READ SCHEMA is explicit: the footer of the single NEWEST selected base
file is read ONCE on the driver (pyarrow) and converted to a Spark
schema — the latest completed writer's schema, with no footer-sampling
inference pass over the file list.

Listing bound: Hudi's snapshot is encoded in DATA-FILE NAMES, so
discovery needs a file listing. When the table carries a METADATA
TABLE (``.hoodie/metadata`` — the internal MOR table real deployments
maintain exactly so readers never pay a storage listing), its
``files`` partition is read driver-side (:func:`_metadata_table_
listing` — KB–MB of log blocks for any table size) and NO ``os.walk``
happens; without one, discovery falls back to a driver-side walk —
O(files) driver time and one listing round-trip per directory, fine
for interop ingestion of small-to-mid tables and the bound to quote
when it is not. ``partitions=`` cuts either path to the admitted
partition dirs (pruned descent / pruned record keys), which is how
real pipelines read date-partitioned tables anyway.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame, pandas_kernel

HOODIE_DIR = ".hoodie"
META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)

#: action may be dotted (compaction.requested / compaction.inflight) —
#: pending states occupy their timeline slot, so instant allocation in
#: every writer (export/compact/clean/cluster) sorts strictly past them
_INSTANT_RE = re.compile(r"^(\d{10,20})\.([\w.]+)$")
#: fileId can contain dashes/uuid; writeToken is d-d-d; instant is digits
_BASEFILE_RE = re.compile(r"^(.+)_([0-9\-]+)_(\d{10,20})(?:\..*)?\.parquet$")


class HudiProtocolError(NotImplementedError):
    """The table needs read capabilities this interop layer does not
    implement (rollback resolution, legacy kryo delete payloads,
    unparseable replacecommit metadata)."""


def _properties(root: str) -> dict:
    p = os.path.join(root, HOODIE_DIR, "hoodie.properties")
    if not os.path.exists(p):
        raise FileNotFoundError(f"not a hudi table (no {HOODIE_DIR}/hoodie.properties): {root}")
    props: dict[str, str] = {}
    with open(p) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" in line:
                k, v = line.split("=", 1)
                props[k.strip()] = v.strip()
    # one chokepoint for the bootstrap gate: every read surface (batch
    # snapshot/incremental/CDC, the streaming source, MOR merge) loads
    # properties before touching files, and the writer surfaces create
    # their own non-bootstrap properties
    _gate_bootstrap(root, props)
    return props


def _gate_bootstrap(root: str, props: dict) -> None:
    """Refuse BOOTSTRAPPED tables honestly. A metadata-only bootstrap
    leaves the original parquet at ``hoodie.bootstrap.base.path`` and
    writes SKELETON base files carrying only the ``_hoodie_*`` meta
    columns; the skeleton->source mapping lives in an HFile bootstrap
    index under ``.hoodie/.aux/.bootstrap``. Reading skeletons as full
    rows would silently return meta-only rows (data columns gone), so
    detection raises. The skeleton-join itself (positional zip of
    skeleton meta columns with source-file data columns via
    ``_metadata.row_index``) is expressible here, but the index that
    names each skeleton's source file is HBase-HFile-formatted — a
    byte layout this from-spec layer does not parse; without it the
    mapping is unknowable."""
    base = props.get(
        "hoodie.bootstrap.base.path",
        props.get("hoodie.bootstrap.base_path"),
    )
    idx = os.path.join(root, HOODIE_DIR, ".aux", ".bootstrap")
    if base or os.path.isdir(idx):
        raise HudiProtocolError(
            "bootstrapped Hudi table (hoodie.bootstrap.base.path / "
            ".hoodie/.aux/.bootstrap present): metadata-only bootstrap "
            "needs the HFile bootstrap index to pair skeleton files "
            "with their source parquet, which this reader does not "
            "parse — reading skeletons directly would silently drop "
            "every data column. Use the original source parquet, or a "
            "full-record re-write of the table"
        )


class _CommittedSet(set):
    """The ACTIVE timeline's completed instants, plus the ARCHIVED
    boundary rule: membership also admits any instant at or below
    ``boundary`` (the newest archived instant) — Hudi readers never
    load the archived timeline for data reads; an instant older than
    everything active is committed by construction (the archiver only
    moves completed instants, never past a pending one). Iteration /
    ``max`` / ``sorted`` stay ACTIVE-only, which is what instant
    allocation and timeline surfaces want."""

    boundary: str | None = None

    def __contains__(self, item) -> bool:  # type: ignore[override]
        if set.__contains__(self, item):
            return True
        b = self.boundary
        return b is not None and isinstance(item, str) and item <= b


def _filter_done(done, cutoff) -> "_CommittedSet":
    """``{c for c in done if c <= cutoff}`` that PRESERVES the archived
    boundary (capped at the cutoff) — every as_of / window filter over
    a committed set must go through this, or archived instants silently
    stop counting as committed."""
    out = _CommittedSet(c for c in done if c <= str(cutoff))
    b = getattr(done, "boundary", None)
    if b is not None:
        out.boundary = min(b, str(cutoff))
    return out


def _archive_boundary(root: str) -> tuple[str | None, str | None]:
    """(newest archived instant, archived clean horizon) from the
    archived timeline's boundary record
    (``.hoodie/archived/.boundary.json``, written by
    ``archive_hudi_timeline``) — O(1) per read, the whole point of
    archival. (None, None) when the table was never archived."""
    p = os.path.join(root, HOODIE_DIR, "archived", ".boundary.json")
    if not os.path.exists(p):
        return None, None
    try:
        with open(p) as f:
            b = json.load(f)
    except (OSError, ValueError) as e:
        raise HudiProtocolError(
            f"unreadable archived-timeline boundary {p}: {e}"
        ) from None
    la = b.get("lastArchivedInstant")
    ch = b.get("cleanHorizon")
    return (str(la) if la else None, str(ch) if ch else None)


def _completed_commits(root: str, allow_delta: bool = False) -> "_CommittedSet":
    """Instant times with a COMPLETED commit action on the timeline.
    ``allow_delta`` (the MERGE_ON_READ path) counts completed
    ``.deltacommit`` instants too; on a COPY_ON_WRITE read they are
    malformed and raise. Completed ``.replacecommit`` instants
    (clustering / insert_overwrite) count as committed data — the file
    groups they RETIRE are resolved separately by
    :func:`_replaced_groups`. The returned set carries the ARCHIVED
    boundary: membership admits instants the archiver moved off the
    active timeline (see :class:`_CommittedSet`)."""
    tdir = os.path.join(root, HOODIE_DIR)
    done = _CommittedSet()
    for name in os.listdir(tdir):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        instant, action = m.group(1), m.group(2)
        if action in ("commit", "replacecommit"):
            done.add(instant)
        elif action == "deltacommit":
            if not allow_delta:
                raise HudiProtocolError(
                    f"timeline contains a deltacommit ({name}) on a "
                    "COPY_ON_WRITE read path; malformed table"
                )
            done.add(instant)
        # .clean / .rollback / .requested / .inflight: not completed data
    done.boundary, _ch = _archive_boundary(root)
    return done


def _clean_horizon(root: str) -> str | None:
    """The newest ``earliestCommitToRetain`` across completed CLEAN
    actions on the timeline — time travel / CDC windows before it
    cannot be served (the superseded slices were physically removed)
    and must raise instead of silently returning newer data. ``None``
    when the table was never cleaned. ARCHIVED clean actions keep
    gating: the archiver folds their horizon into the boundary record,
    consulted here — moving a clean off the active timeline must never
    silently un-gate the reads it constrained."""
    tdir = os.path.join(root, HOODIE_DIR)
    _la, horizon = _archive_boundary(root)
    for name in os.listdir(tdir):
        m = _INSTANT_RE.match(name)
        if not m or m.group(2) != "clean":
            continue
        try:
            with open(os.path.join(tdir, name)) as f:
                body = json.load(f)
        except (OSError, ValueError) as e:
            raise HudiProtocolError(
                f"unreadable clean metadata {name}: {e}"
            ) from None
        e0 = body.get("earliestCommitToRetain")
        if e0 and (horizon is None or str(e0) > horizon):
            horizon = str(e0)
    return horizon


def _pending_compactions(root: str) -> dict[str, dict]:
    """ASYNC-COMPACTION timeline states: ``{instant: plan}`` for every
    ``{instant}.compaction.requested`` (the schedule's compaction plan)
    whose instant has NOT completed yet (no ``{instant}.commit``) — the
    spec's requested/inflight states. Hudi keeps all three state files
    on the active timeline, so pending = requested present AND
    completed absent; the ``.inflight`` marker adds no information for
    readers (a crashed compactor's plan stays completable). A
    requested file whose plan JSON cannot be parsed raises — readers
    must know which groups are under compaction to route their logs."""
    tdir = os.path.join(root, HOODIE_DIR)
    requested: dict[str, str] = {}
    completed: set[str] = set()
    for name in os.listdir(tdir):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        instant, action = m.group(1), m.group(2)
        if action == "compaction.requested":
            requested[instant] = os.path.join(tdir, name)
        elif action in ("commit", "deltacommit", "replacecommit"):
            completed.add(instant)
    out: dict[str, dict] = {}
    for instant in sorted(set(requested) - completed):
        try:
            with open(requested[instant]) as f:
                plan = json.load(f)
            plan["operations"]
        except (OSError, ValueError, KeyError) as e:
            raise HudiProtocolError(
                f"unreadable compaction plan {instant}.compaction."
                f"requested ({e}); pending file groups cannot be resolved"
            ) from None
        out[instant] = plan
    return out


def _pending_compaction_groups(root: str) -> dict[tuple[str, str], str]:
    """``{(partition, fileId): compaction instant}`` for every file
    group covered by a pending compaction plan. While pending, the
    group's CURRENT slice is its old base + old logs + any log chain
    attached to the compaction instant (mid-pending appends target the
    requested instant, per Hudi's log-writer rule), and writers must
    route new appends there."""
    out: dict[tuple[str, str], str] = {}
    for instant, plan in _pending_compactions(root).items():
        for op in plan.get("operations", []):
            p = op.get("partitionPath") or ""
            key = (os.path.normpath(p) if p else ".", str(op["fileId"]))
            if key not in out:  # earliest pending plan owns the group
                out[key] = instant
    return out


def _pending_clusterings(root: str) -> dict[str, dict]:
    """PENDING-CLUSTERING timeline states: ``{instant: plan}`` for
    every ``{instant}.replacecommit.requested`` (the schedule's
    clustering plan, ``hudi_export.schedule_clustering``) whose
    replacecommit has NOT completed — the spec's requested/inflight
    replacecommit states. Same three-state shape as async compaction
    (:func:`_pending_compactions`): pending = requested present AND
    completed absent; the ``.inflight`` marker adds no information.
    A requested file whose plan JSON cannot be parsed raises — writers
    must know which groups are under a pending plan to apply the
    update-conflict rule."""
    tdir = os.path.join(root, HOODIE_DIR)
    requested: dict[str, str] = {}
    completed: set[str] = set()
    for name in os.listdir(tdir):
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        instant, action = m.group(1), m.group(2)
        if action == "replacecommit.requested":
            requested[instant] = os.path.join(tdir, name)
        elif action == "replacecommit":
            completed.add(instant)
    out: dict[str, dict] = {}
    for instant in sorted(set(requested) - completed):
        try:
            with open(requested[instant]) as f:
                plan = json.load(f)
            plan["operations"]
        except (OSError, ValueError, KeyError) as e:
            raise HudiProtocolError(
                f"unreadable clustering plan {instant}.replacecommit."
                f"requested ({e}); pending file groups cannot be resolved"
            ) from None
        out[instant] = plan
    return out


def _pending_clustering_groups(root: str) -> dict[tuple[str, str], str]:
    """``{(partition, fileId): clustering instant}`` for every file
    group named by a pending clustering plan. Writers touching such a
    group apply the spec's UPDATE-CONFLICT rule
    (``hoodie.clustering.updates.strategy``): reject by default, or
    allow — in which case the clustering COMPLETION detects the
    conflicting later write and aborts (real Hudi's behavior)."""
    out: dict[tuple[str, str], str] = {}
    for instant, plan in _pending_clusterings(root).items():
        for op in plan.get("operations", []):
            p = op.get("partitionPath") or ""
            key = (os.path.normpath(p) if p else ".", str(op["fileId"]))
            if key not in out:
                out[key] = instant
    return out


def _replaced_groups(root: str, as_of: str | None) -> set[tuple[str, str]]:
    """(partition path, fileId) of every file group RETIRED by a
    completed replacecommit at or before ``as_of`` — the commit
    metadata's ``partitionToReplaceFileIds`` map (the JSON
    HoodieReplaceCommitMetadata real table services write). Replaced
    groups become invisible AT the replacecommit and stay visible to
    time travel before it. A completed replacecommit whose metadata
    cannot be parsed raises — without the map the read would
    double-count every clustered row."""
    tdir = os.path.join(root, HOODIE_DIR)
    out: set[tuple[str, str]] = set()
    for name in os.listdir(tdir):
        m = _INSTANT_RE.match(name)
        if not m or m.group(2) != "replacecommit":
            continue
        instant = m.group(1)
        if as_of is not None and instant > str(as_of):
            continue
        path = os.path.join(tdir, name)
        try:
            with open(path) as f:
                meta = json.load(f)
            p2f = meta["partitionToReplaceFileIds"]
            items = [
                (os.path.normpath(p) if p else ".", str(fid))
                for p, fids in p2f.items()
                for fid in fids
            ]
        except (ValueError, KeyError, TypeError, AttributeError) as e:
            raise HudiProtocolError(
                f"replacecommit {name} metadata is not parseable JSON "
                f"with partitionToReplaceFileIds ({e}); the replaced "
                "file groups cannot be resolved"
            ) from None
        out.update(items)
    return out


def hudi_commits(root: str) -> list[str]:
    """Completed commit instants, ascending — the timeline surface
    (deltacommits count on a MERGE_ON_READ table)."""
    ttype = _properties(root).get("hoodie.table.type", "COPY_ON_WRITE")
    return sorted(_completed_commits(root, allow_delta=ttype == "MERGE_ON_READ"))


def read_hudi_incremental(
    spark: SparkSession,
    root: str,
    begin: str,
    end: str | None = None,
    keep_meta: bool = False,
    partitions: list[str] | str | None = None,
) -> DataFrame:
    """Hudi's INCREMENTAL QUERY — the rows committed in the instant
    range ``(begin, end]`` (``end=None`` = latest), the feature that
    makes Hudi tables consumable as change feeds: a downstream job
    remembers the last instant it processed and reads only what landed
    since.

    COW semantics, same as Hudi's own incremental relation: select each
    file group's LATEST completed base file at or before ``end``, keep
    only groups whose file version landed AFTER ``begin`` (untouched
    groups are never read), then filter rows by their own
    ``_hoodie_commit_time`` — a rewritten file carries forward the old
    rows of its group, and the per-row commit time is what separates
    the new/updated rows from the carried-forward ones. Tables whose
    files lack the ``_hoodie_commit_time`` meta column cannot answer
    incremental queries and raise.

    MERGE_ON_READ tables answer the same query through the snapshot
    merge: untouched groups are pruned at the file-group level
    (``_read_mor(newer_than=begin)``), touched groups merge base+logs
    last-writer-wins, then the per-row commit-time filter keeps the
    window's NET row versions (a key upserted twice in the window
    surfaces once at its final value; a key whose newest writer is a
    DELETE tombstone emits nothing — incremental reads carry no delete
    markers, same as Hudi's)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    props = _properties(root)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype == "MERGE_ON_READ":
        out = _read_mor(
            spark, root, end, True, partitions, newer_than=str(begin)
        )
        if "_hoodie_commit_time" not in out.columns:
            raise HudiProtocolError(
                "table files lack the _hoodie_commit_time meta column; "
                "incremental queries need per-row commit times"
            )
        out = out.filter(F.col("_hoodie_commit_time") > str(begin))
        if not keep_meta:
            out = out.drop(*[c for c in META_COLS if c in out.columns])
        return out
    if ttype != "COPY_ON_WRITE":
        raise HudiProtocolError(
            f"hoodie.table.type={ttype}: unknown table type"
        )
    groups = _latest_slices(root, end, partitions)
    if not groups:
        raise ValueError(
            f"no completed base files visible at "
            f"{'end=' + str(end) if end is not None else 'latest'}"
        )
    # schema from the snapshot's newest slice (stable even when the
    # incremental window itself is empty)
    newest = max(groups.values())[1]
    schema = from_arrow_schema(
        pq.ParquetFile(newest).schema_arrow, prefer_timestamp_ntz=True
    )
    if "_hoodie_commit_time" not in schema.names:
        raise HudiProtocolError(
            "table files lack the _hoodie_commit_time meta column; "
            "incremental queries need per-row commit times"
        )
    # only TOUCHED file groups are read: a group whose latest slice
    # predates `begin` contributes nothing and is never opened
    touched = sorted(
        p for instant, p in groups.values() if instant > str(begin)
    )
    if not touched:
        out = local_frame(spark, [], schema)
    else:
        out = spark.read.schema(schema).parquet(*touched).filter(
            F.col("_hoodie_commit_time") > str(begin)
        )
    if not keep_meta:
        out = out.drop(*[c for c in META_COLS if c in out.columns])
    return out


def _gate_log_blocks(lp: str, done: set) -> tuple[list[int], str]:
    """Header-only gate of one log file's blocks against the committed
    set: kept block indexes + the newest committed instant seen. Same
    gates as the batch `_read_mor` — rollback COMMANDs of completed
    instants and unknown block types raise; payloads never touch the
    driver. Shared by the streaming source and the CDC readers."""
    from . import hudi_log as HL

    idxs: list[int] = []
    max_inst = ""
    for bi, h in enumerate(HL.scan_block_headers(lp)):
        inst = h["instant"]
        if inst is None:
            raise HL.HudiLogCorruptError(
                f"{lp}: log block without INSTANT_TIME header"
            )
        if inst not in done:
            continue
        if h["type"] == HL.COMMAND_BLOCK:
            if h["header"].get(HL.H_COMMAND_BLOCK_TYPE, "0") != "0":
                raise HudiProtocolError(
                    f"log file {os.path.basename(lp)}: unknown COMMAND "
                    f"block type {h['header'].get(HL.H_COMMAND_BLOCK_TYPE)!r}"
                )
            tgt = h["header"].get(HL.H_TARGET_INSTANT_TIME)
            if tgt is not None and tgt in done:
                raise HudiProtocolError(
                    f"log file {os.path.basename(lp)}: rollback COMMAND "
                    f"block targets COMPLETED instant {tgt}; "
                    "inconsistent timeline"
                )
            continue
        if h["type"] not in (HL.AVRO_DATA_BLOCK, HL.DELETE_BLOCK):
            raise HudiProtocolError(
                f"log file {os.path.basename(lp)}: unsupported "
                f"block type {h['type']}"
            )
        idxs.append(bi)
        if inst > max_inst:
            max_inst = inst
    return idxs, max_inst


def _slice_specs(
    root: str,
    as_of: str | None,
    partitions,
    mor: bool,
) -> dict:
    """Driver-side SLICE SPEC of every file group at cutoff ``as_of``:
    ``{(part, fileId): (base path | None, ((log path, kept-idx json),
    ...))}`` — the complete recipe for folding the group's state at
    that instant. Two specs differing at consecutive cutoffs IS the
    touched-group test (a new base file, a newly committed block, or a
    replacecommit retirement changes the spec). COW specs are just the
    base paths."""
    import json as _json

    if as_of is None:
        return {}
    if not mor:
        groups = _latest_slices(root, as_of, partitions)
        return {k: (p, ()) for k, (_i, p) in groups.items()}
    groups, logs = _latest_slices(root, as_of, partitions, collect_logs=True)
    done = _filter_done(_completed_commits(root, allow_delta=True), as_of)
    pending = _pending_compaction_groups(root)
    out: dict = {}
    for key in sorted(set(groups) | set(logs)):
        base = groups.get(key)
        lfs = sorted(logs.get(key, []))
        if base is not None:
            # a pending compaction's log chain (attached to the
            # requested instant, no base there yet) folds onto the OLD
            # base until the plan completes
            pi = pending.get(key)
            lfs = [l for l in lfs if l[0] == base[0] or l[0] == pi]
        kept = []
        for _bi, _ver, lp in lfs:
            idxs, _mi = _gate_log_blocks(lp, done)
            if idxs:
                kept.append((lp, _json.dumps(idxs)))
        if base is not None or kept:
            out[key] = (base[1] if base is not None else None, tuple(kept))
    return out


def read_hudi_changes(
    spark: SparkSession,
    root: str,
    begin: str,
    end: str | None = None,
    partitions: list[str] | str | None = None,
) -> DataFrame:
    """Hudi CDC QUERY (RFC-51 semantics) — per-row CHANGE IMAGES for
    every commit in ``(begin, end]``: one row per changed record per
    commit with ``op`` (``i``/``u``/``d``), ``ts_ms`` (the commit
    instant), the record key columns, and ``before``/``after`` payload
    STRUCTS (meta columns excluded). Unlike the incremental query's
    NET rows, a key upserted in two commits of the window emits one
    change row PER commit, and deletes surface with their before
    image.

    The feed is computed BY INFERENCE from file slices — the
    cdc-on-the-fly path real Hudi readers take when supplemental cdc
    logging is absent or ``op_key_only``: for each commit, each
    TOUCHED file group's state at the commit is diffed against the
    same group's state at the previous completed instant, keyed by
    ``_hoodie_record_key`` (+ partition path). COW states are the
    base files themselves (a rewrite carries every surviving row, so
    absence = delete); MOR states are the group's base+log merge at
    the two instants (:func:`_read_mor` restricted to the touched
    groups). Supplemental ``-cdc`` log files (``data_before_after``
    logging mode) are NOT parsed — their byte layout is not pinned by
    the public spec to this layer's from-spec standard — but for the
    modes they accelerate, inference produces the identical feed from
    the slices.

    Scale posture: per commit, only the touched groups' current and
    previous slices are opened (the untouched majority is never read
    — per Hudi's model a record key lives in exactly one file group
    per partition, so changes cannot hide elsewhere); the diff join
    shuffles just those rows on the record key. Touched groups are
    found by diffing driver-side SLICE SPECS at consecutive cutoffs —
    ONE listing per commit, carried forward — which also makes
    REPLACECOMMIT retirements (clustering / insert_overwrite) emit
    their rows' change images instead of vanishing silently.
    Identical carried-forward rows cancel via a null-safe
    payload-struct comparison, never reaching the output. Every
    commit's images share one payload shape (the END state's columns;
    earlier vintages NULL-fill), so windows spanning a schema change
    union cleanly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    props = _properties(root)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    mor = ttype == "MERGE_ON_READ"
    if not mor and ttype != "COPY_ON_WRITE":
        raise HudiProtocolError(
            f"hoodie.table.type={ttype}: unknown table type"
        )
    done = sorted(_completed_commits(root, allow_delta=mor))
    h = _clean_horizon(root)
    if h is not None and str(begin) < h:
        raise HudiProtocolError(
            f"read_hudi_changes begin={begin} predates the cleaner "
            f"horizon {h}: the superseded slices needed to diff those "
            "commits were removed by a clean"
        )
    la, _ch = _archive_boundary(root)
    if la is not None and str(begin) < la:
        raise HudiProtocolError(
            f"read_hudi_changes begin={begin} predates the archived-"
            f"timeline boundary {la}: per-commit change windows need "
            "the active timeline's instant list — archived commits "
            "cannot be enumerated (start at or after the boundary)"
        )
    window = [
        c for c in done
        if c > str(begin) and (end is None or c <= str(end))
    ]

    def snapshot(as_of: str, spec: dict, keys: set) -> DataFrame | None:
        """State of the given file groups at ``as_of`` (meta kept)."""
        sel = keys & set(spec)
        if not sel:
            return None
        if mor:
            return _read_mor(
                spark, root, as_of, True, partitions, only_groups=sel
            )
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        paths = sorted(spec[k][0] for k in sel)
        schema = from_arrow_schema(
            pq.ParquetFile(max(paths)).schema_arrow, prefer_timestamp_ntz=True
        )
        return spark.read.schema(schema).parquet(*paths)

    # one payload shape for EVERY commit's images: the window-end
    # state's columns/types; per-commit frames align to it (earlier
    # vintages NULL-fill, narrower physical types cast) so the
    # cross-commit union never breaks on a mid-window schema change
    pay_fields: list | None = None

    def _image(df, keyc):
        cols = []
        have = set(df.columns)
        for f_ in pay_fields:
            cols.append(
                (
                    F.col(f_.name).cast(f_.dataType)
                    if f_.name in have
                    else F.lit(None).cast(f_.dataType)
                ).alias(f_.name)
            )
        return F.struct(*cols)

    frames: list[DataFrame] = []
    prev_inst = max((d for d in done if d <= str(begin)), default=None)
    prev_spec = _slice_specs(root, prev_inst, partitions, mor)
    for c in window:
        cur_spec = _slice_specs(root, c, partitions, mor)
        keys = {
            k
            for k in set(prev_spec) | set(cur_spec)
            if prev_spec.get(k) != cur_spec.get(k)
        }
        if not keys:
            prev_inst, prev_spec = c, cur_spec
            continue
        after = snapshot(c, cur_spec, keys)
        before = (
            snapshot(prev_inst, prev_spec, keys)
            if prev_inst is not None
            else None
        )
        prev_inst, prev_spec = c, cur_spec
        anchor = after if after is not None else before
        if anchor is None:
            continue
        if pay_fields is None:
            end_state = read_hudi(
                spark, root,
                as_of=(end if end is not None else window[-1]),
                keep_meta=True, partitions=partitions,
            )
            pay_fields = [
                f_ for f_ in end_state.schema.fields
                if f_.name not in META_COLS
            ]
        keyc = ["_hoodie_record_key"]
        if "_hoodie_partition_path" in anchor.columns:
            keyc.append("_hoodie_partition_path")
        img_t = T.StructType(
            [T.StructField(f_.name, f_.dataType, True) for f_ in pay_fields]
        )
        if after is None:
            # every touched group retired (replacecommit with no
            # replacement in these groups): all rows are deletes
            b = before.select(*keyc, _image(before, keyc).alias("__b"))
            j = b.withColumn("__a", F.lit(None).cast(img_t))
        elif before is None:
            a = after.select(*keyc, _image(after, keyc).alias("__a"))
            j = a.withColumn("__b", F.lit(None).cast(img_t))
        else:
            a = after.select(*keyc, _image(after, keyc).alias("__a"))
            b = before.select(*keyc, _image(before, keyc).alias("__b"))
            j = a.join(b, keyc, "full_outer")
        diff = (
            j.filter(~F.col("__b").eqNullSafe(F.col("__a")))
            .select(
                F.when(F.col("__b").isNull(), F.lit("i"))
                .when(F.col("__a").isNull(), F.lit("d"))
                .otherwise(F.lit("u"))
                .alias("op"),
                F.lit(c).alias("ts_ms"),
                *keyc,
                F.col("__b").alias("before"),
                F.col("__a").alias("after"),
            )
        )
        frames.append(diff)
    if not frames:
        # shape the empty feed from the current snapshot's payload
        cur = read_hudi(spark, root, as_of=end, keep_meta=True,
                        partitions=partitions)
        keyc = ["_hoodie_record_key"]
        if "_hoodie_partition_path" in cur.columns:
            keyc.append("_hoodie_partition_path")
        pay = [col for col in cur.columns if col not in META_COLS]
        empty = cur.limit(0).select(
            F.lit("i").alias("op"),
            F.lit("").alias("ts_ms"),
            *keyc,
            F.struct(*pay).alias("before"),
            F.struct(*pay).alias("after"),
        )
        return empty
    out = frames[0]
    for x in frames[1:]:
        out = out.unionByName(x)
    return out


#: hidden log files: .{fileId}_{baseInstant}.log.{version}_{writeToken}
_LOGFILE_RE = re.compile(r"^\.(.+)_(\d{10,20})\.log\.(\d+)_(.+)$")

#: the files-partition record shape of the metadata table (the subset
#: of HoodieMetadataRecord.avsc this layer reads/writes): key is a
#: partition path ('' / '.' = table root; '__all_partitions__' is the
#: partition-list record), filesystemMetadata maps file name -> info
METADATA_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "filesystemMetadata",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": {
                        "type": "record",
                        "name": "HoodieMetadataFileInfo",
                        "fields": [
                            {"name": "size", "type": "long"},
                            {"name": "isDeleted", "type": "boolean"},
                        ],
                    },
                },
            ],
        },
    ],
}

ALL_PARTITIONS_KEY = "__all_partitions__"


def _metadata_table_listing(root: str) -> dict[str, list[str]] | None:
    """Read the METADATA TABLE's ``files`` partition
    (``<root>/.hoodie/metadata`` — the internal MOR table real Hudi
    writers maintain so readers never pay an O(files) storage listing)
    and return ``{partition path: [live file names]}``; ``None`` when
    the table has no metadata table (callers fall back to the walk).

    Driver-side by design: the files partition is KB–MB of metadata
    for any table size, and its content IS the listing the driver
    needs. The partition's own file slices (one dir, a handful of file
    groups) are resolved with the same filename rules as data files;
    committed AVRO log blocks and base parquet rows fold in commit
    order — per partition key, each record's ``filesystemMetadata``
    updates file entries (latest wins, ``isDeleted`` removes), the
    exact HoodieMetadataPayload combine.

    The listing is trusted ONLY when it can answer correctly;
    otherwise ``None`` sends the caller to the authoritative walk:

    - STALENESS: the metadata table's newest completed instant must be
      at or after the data timeline's newest completed instant (a
      writer syncs the MDT with every commit; this layer's
      :func:`write_metadata_table_files` stamps the data table's
      latest instant). Data commits newer than the last sync would be
      invisible to the listing — fall back rather than drop them.
    - CONTENT this reader cannot fold: HFile base files / log blocks
      (real Hudi's default MDT file format since 0.11), key-level
      DELETE blocks, or a files partition that folds to zero entries.
      The walk reads such tables fine; the MDT is an optimization, so
      degrade to correct-but-slower instead of raising."""
    from . import hudi_log as HL

    mdt = os.path.join(root, HOODIE_DIR, "metadata")
    if not os.path.exists(os.path.join(mdt, HOODIE_DIR, "hoodie.properties")):
        return None
    files_dir = os.path.join(mdt, "files")
    if not os.path.isdir(files_dir):
        return None
    done = _completed_commits(mdt, allow_delta=True)
    data_done = _completed_commits(root, allow_delta=True)
    if data_done and (not done or max(done) < max(data_done)):
        return None  # MDT not synced past the newest data commit: stale
    groups: dict[str, tuple[str, str]] = {}
    logsf: dict[str, list[tuple[str, int, str]]] = {}
    for name in os.listdir(files_dir):
        lm = _LOGFILE_RE.match(name)
        if lm:
            fid, base_instant, ver, _tok = lm.groups()
            logsf.setdefault(fid, []).append(
                (base_instant, int(ver), os.path.join(files_dir, name))
            )
            continue
        m = _BASEFILE_RE.match(name)
        if not m:
            continue
        fid, _tok, instant = m.groups()
        if instant not in done:
            continue
        if fid not in groups or instant > groups[fid][0]:
            groups[fid] = (instant, os.path.join(files_dir, name))
    if not groups and not logsf:
        return None  # files partition holds no readable slices: walk
    # events in commit order: (instant, source ordinal, block, record)
    events: list[tuple[str, int, int, int, dict]] = []
    for gi, fid in enumerate(sorted(set(groups) | set(logsf))):
        base = groups.get(fid)
        lfs = sorted(logsf.get(fid, []))
        if base is not None:
            base_instant, bpath = base
            lfs = [l for l in lfs if l[0] == base_instant]
            if not bpath.endswith(".parquet"):
                return None  # HFile/ORC base file: this reader can't fold it
            import pyarrow.parquet as pq

            for ri, rec in enumerate(pq.read_table(bpath).to_pylist()):
                events.append((base_instant, -1, -1, ri, rec))
        for li, (_bi, _ver, lp) in enumerate(lfs):
            try:
                blocks = list(HL.read_log_blocks(lp))
            except Exception:
                return None  # unreadable log (HFile blocks, corruption)
            for bi, blk in enumerate(blocks):
                inst = blk["instant"]
                if inst is None or inst not in done:
                    continue
                if blk["type"] != HL.AVRO_DATA_BLOCK:
                    # DELETE (key-level metadata deletes) or HFile data
                    # blocks: not foldable here — the walk still is
                    return None
                for ri, rec in enumerate(blk["records"]):
                    events.append((inst, li, bi, ri, rec))
    state: dict[str, dict[str, dict]] = {}
    for _inst, _li, _bi, _ri, rec in sorted(
        events, key=lambda e: (e[0], e[1], e[2], e[3])
    ):
        k = rec.get("key")
        if k is None or k == ALL_PARTITIONS_KEY:
            continue
        part = "." if k in ("", ".") else k
        slot = state.setdefault(part, {})
        for fname, info in (rec.get("filesystemMetadata") or {}).items():
            slot[fname] = info  # latest writer wins per file name
    return {
        part: sorted(f for f, info in slot.items() if not info.get("isDeleted"))
        for part, slot in state.items()
    } or None


def write_metadata_table_files(root: str) -> str:
    """Build/refresh the table's METADATA TABLE files partition the way
    a Hudi writer maintains it: walk the data tree ONCE (the writer
    already knows its files; this export is the fixture/bootstrap
    surface), then append one AVRO log block of per-partition
    ``filesystemMetadata`` records to a log-only file group under
    ``.hoodie/metadata/files``, committed as a deltacommit stamped with
    the data table's latest completed instant. Subsequent reads list
    from it instead of walking. Returns the metadata table root."""

    done = _completed_commits(root, allow_delta=True)
    latest = max(done) if done else "00000000000000"
    per_part: dict[str, dict[str, dict]] = {}
    for dirpath, dirs, files in os.walk(root):
        if os.path.basename(dirpath) == HOODIE_DIR:
            dirs[:] = []
            continue
        rel = os.path.normpath(os.path.relpath(dirpath, root))
        for name in files:
            if _BASEFILE_RE.match(name) or _LOGFILE_RE.match(name):
                per_part.setdefault(rel, {})[name] = {
                    "size": os.path.getsize(os.path.join(dirpath, name)),
                    "isDeleted": False,
                }
    records = [
        {
            "key": ALL_PARTITIONS_KEY,
            "type": 1,
            "filesystemMetadata": {
                p: {"size": 0, "isDeleted": False} for p in sorted(per_part)
            },
        }
    ] + [
        {"key": part, "type": 2, "filesystemMetadata": files}
        for part, files in sorted(per_part.items())
    ]
    return _mdt_append_partition(
        root, "files", "files-0000", METADATA_RECORD_SCHEMA, records, latest
    )


def _wrapper(name: str, typ: str) -> dict:
    return {
        "type": "record",
        "name": name,
        "fields": [{"name": "value", "type": typ}],
    }


#: the COLUMN_STATS partition record shape (the subset of the public
#: HoodieMetadataRecord.avsc this layer reads/writes): type 3 records
#: whose ColumnStatsMetadata payload carries per-(file, column) bounds.
#: min/max are the spec's single-field wrapper-record union (a plain
#: primitive union could not distinguish Date from Int, or Long from
#: TimestampMicros); maxValue references the minValue union's named
#: types per Avro rules. Divergence, stated: real Hudi keys these
#: records with base64-encoded column/partition/file hash IDs — this
#: layer writes the readable "partition,column,fileName" triple (the
#: key only matters for record-level point lookups, which this reader
#: does not do; the payload is what skipping consumes).
_STAT_WRAPPERS = [
    _wrapper("BooleanWrapper", "boolean"),
    _wrapper("IntWrapper", "int"),
    _wrapper("LongWrapper", "long"),
    _wrapper("FloatWrapper", "float"),
    _wrapper("DoubleWrapper", "double"),
    _wrapper("BytesWrapper", "bytes"),
    _wrapper("StringWrapper", "string"),
    _wrapper("DateWrapper", "int"),  # days since epoch
    _wrapper("TimestampMicrosWrapper", "long"),
]
_STAT_WRAPPER_NAMES = [w["name"] for w in _STAT_WRAPPERS]
COLUMN_STATS_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "ColumnStatsMetadata",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "HoodieMetadataColumnStats",
                    "fields": [
                        {"name": "fileName", "type": "string"},
                        {"name": "columnName", "type": "string"},
                        {
                            "name": "minValue",
                            "type": ["null"] + _STAT_WRAPPERS,
                        },
                        {
                            "name": "maxValue",
                            "type": ["null"] + _STAT_WRAPPER_NAMES,
                        },
                        {"name": "valueCount", "type": ["null", "long"]},
                        {"name": "nullCount", "type": ["null", "long"]},
                        {"name": "totalSize", "type": ["null", "long"]},
                        {"name": "isDeleted", "type": "boolean"},
                    ],
                },
            ],
        },
    ],
}

#: metadata-table record `type` codes (public MetadataPartitionType):
#: 1 = partition list, 2 = file list, 3 = column stats, 4 = bloom filter
COLUMN_STATS_TYPE = 3


def _wrap_stat(v, arrow_type):
    """A parquet-footer min/max value -> the spec's tagged wrapper-union
    value (``{"LongWrapper": {"value": 5}}``), or None when the column's
    type has no wrapper here (the column then simply publishes no
    bounds — conservative)."""
    import datetime

    import pyarrow as pa

    if isinstance(v, bool):
        return {"BooleanWrapper": {"value": v}}
    if isinstance(v, int):
        small = arrow_type is not None and pa.types.is_integer(arrow_type) \
            and arrow_type.bit_width <= 32
        return {("IntWrapper" if small else "LongWrapper"): {"value": v}}
    if isinstance(v, float):
        is32 = arrow_type is not None and pa.types.is_float32(arrow_type)
        return {("FloatWrapper" if is32 else "DoubleWrapper"): {"value": v}}
    if isinstance(v, str):
        return {"StringWrapper": {"value": v}}
    if isinstance(v, (bytes, bytearray)):
        return {"BytesWrapper": {"value": bytes(v)}}
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        micros = int(
            (v - datetime.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
        return {"TimestampMicrosWrapper": {"value": micros}}
    if isinstance(v, datetime.date):
        return {"DateWrapper": {"value": (v - datetime.date(1970, 1, 1)).days}}
    return None


def _harvest_parquet_col_stats(
    path: str, columns: set | None = None
) -> dict[str, dict]:
    """Per-column footer bounds of ONE parquet base file:
    ``{column: {"min": wrapped, "max": wrapped, "nulls": n, "values": n}}``.
    Row-group chunk stats fold with min-of-mins / max-of-maxes; a single
    row group without bounds for a column voids that column's bounds
    (conservative — absent bounds never prune). Nested columns and
    wrapper-less types are skipped. Footer-only: no data pages read."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    arrow = {f.name: f.type for f in pf.schema_arrow}
    agg: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            chunk = g.column(ci)
            name = chunk.path_in_schema
            if "." in name or name not in arrow:
                continue  # nested leaf: no top-level bounds
            if columns is not None and name not in columns:
                continue
            if name in META_COLS:
                continue
            slot = agg.setdefault(
                name,
                {"min": None, "max": None, "nulls": 0, "values": 0,
                 "bounded": True},
            )
            st = chunk.statistics
            slot["values"] += chunk.num_values
            if st is not None and st.has_null_count:
                slot["nulls"] += st.null_count
            if st is None or not st.has_min_max:
                slot["bounded"] = False
                continue
            for side, pick in (("min", min), ("max", max)):
                cur, new = slot[side], getattr(st, side)
                slot[side] = new if cur is None else pick(cur, new)
    out = {}
    for name, slot in agg.items():
        lo = _wrap_stat(slot["min"], arrow.get(name)) if slot["bounded"] else None
        hi = _wrap_stat(slot["max"], arrow.get(name)) if slot["bounded"] else None
        out[name] = {
            "min": lo,
            "max": hi,
            "nulls": slot["nulls"],
            "values": slot["values"],
        }
    return out


def _col_stats_records(
    rel: str, name: str, path: str, want: set | None
) -> list[dict]:
    """Type-3 ``HoodieMetadataColumnStats`` records for ONE base file —
    the single definition of the record shape and the
    ``"{partition},{column},{fileName}"`` key that BOTH the bootstrap
    writer and the incremental per-commit indexer emit (pruning looks
    records up by these exact keys; two copies would drift)."""
    return [
        {
            "key": f"{rel},{col},{name}",
            "type": COLUMN_STATS_TYPE,
            "ColumnStatsMetadata": {
                "fileName": name,
                "columnName": col,
                "minValue": st["min"],
                "maxValue": st["max"],
                "valueCount": st["values"],
                "nullCount": st["nulls"],
                "totalSize": None,
                "isDeleted": False,
            },
        }
        for col, st in sorted(
            _harvest_parquet_col_stats(path, want).items()
        )
    ]


def _bloom_record(
    rel: str, name: str, path: str, ts: str, fpp: float = 1e-9
) -> dict | None:
    """Type-4 ``HoodieMetadataBloomFilter`` record for ONE base file
    (record-key column read columnar; None when the file has no key
    column) — shared by the bootstrap writer and the incremental
    indexer for the same no-drift reason as :func:`_col_stats_records`."""
    import pyarrow.parquet as pq

    from .bloom import HadoopBloomFilter

    try:
        keys = (
            pq.read_table(path, columns=["_hoodie_record_key"])
            .column(0)
            .to_pylist()
        )
    except Exception:
        return None  # no key column: nothing to index
    bf = HadoopBloomFilter.optimal(max(len(keys), 1), fpp)
    for k in keys:
        if k is not None:
            bf.add(str(k).encode("utf-8"))
    return {
        "key": f"{rel},{name}",
        "type": BLOOM_FILTER_TYPE,
        "BloomFilterMetadata": {
            "type": "SIMPLE",
            "timestamp": ts,
            "bloomFilter": bf.serialize(),
            "isDeleted": False,
        },
    }


def write_metadata_table_column_stats(
    root: str, columns: list[str] | None = None
) -> str:
    """Build/refresh the metadata table's COLUMN_STATS partition the way
    a Hudi writer maintains it: harvest each completed base file's
    parquet FOOTER bounds (min/max/nullCount per column — the writer
    already has these in its write statuses; this export is the
    fixture/bootstrap surface) and append them as type-3
    ``HoodieMetadataColumnStats`` records in one AVRO log block under
    ``.hoodie/metadata/column_stats``, committed as a deltacommit
    stamped with the data table's latest completed instant.
    ``read_hudi(predicates=...)`` then DATA-SKIPS files from these
    bounds without opening any footer. ``columns`` limits the indexed
    set (real deployments index the filter columns, not all of them).
    Returns the metadata table root."""
    done = _completed_commits(root, allow_delta=True)
    latest = max(done) if done else "00000000000000"
    want = set(columns) if columns is not None else None
    records: list[dict] = []
    for dirpath, dirs, files in os.walk(root):
        if os.path.basename(dirpath) == HOODIE_DIR:
            dirs[:] = []
            continue
        rel = os.path.normpath(os.path.relpath(dirpath, root))
        for name in sorted(files):
            m = _BASEFILE_RE.match(name)
            if not m or m.group(3) not in done:
                continue
            records.extend(
                _col_stats_records(
                    rel, name, os.path.join(dirpath, name), want
                )
            )
    return _mdt_append_partition(
        root, "column_stats", "col-stats-0000",
        COLUMN_STATS_RECORD_SCHEMA, records, latest,
    )


#: the BLOOM_FILTER partition record shape (the subset of the public
#: HoodieMetadataRecord.avsc this layer reads/writes): type-4 records
#: whose HoodieMetadataBloomFilter payload carries the serialized
#: Hadoop-Writable bloom filter of the file's record keys. Same key
#: divergence as column_stats: readable "partition,fileName" instead
#: of real Hudi's base64 hash IDs (payload semantics are what the
#: point-lookup consumes).
BLOOM_FILTER_RECORD_SCHEMA = {
    "type": "record",
    "name": "HoodieMetadataRecord",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {
            "name": "BloomFilterMetadata",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "HoodieMetadataBloomFilter",
                    "fields": [
                        {"name": "type", "type": "string"},
                        {"name": "timestamp", "type": "string"},
                        {"name": "bloomFilter", "type": "bytes"},
                        {"name": "isDeleted", "type": "boolean"},
                    ],
                },
            ],
        },
    ],
}

BLOOM_FILTER_TYPE = 4  # MetadataPartitionType.BLOOM_FILTERS record code


def write_metadata_table_bloom_filters(
    root: str, fpp: float = 1e-9
) -> str:
    """Build/refresh the metadata table's BLOOM_FILTERS partition the
    way a Hudi writer maintains it: one Hadoop-Writable SIMPLE bloom
    filter (sources/bloom.py) over each completed base file's
    ``_hoodie_record_key`` column, appended as type-4
    ``HoodieMetadataBloomFilter`` records in one AVRO log block under
    ``.hoodie/metadata/bloom_filters``. A real writer builds the
    filter from the keys it just wrote; this export reads each file's
    KEY COLUMN ONLY (columnar single-column read, the
    fixture/bootstrap surface). ``read_hudi(record_keys=...)`` then
    prunes file groups whose filter definitively excludes every
    sought key — Hudi's bloom-index point-lookup path. Returns the
    metadata table root."""
    done = _completed_commits(root, allow_delta=True)
    latest = max(done) if done else "00000000000000"
    records: list[dict] = []
    for dirpath, dirs, files in os.walk(root):
        if os.path.basename(dirpath) == HOODIE_DIR:
            dirs[:] = []
            continue
        rel = os.path.normpath(os.path.relpath(dirpath, root))
        for name in sorted(files):
            m = _BASEFILE_RE.match(name)
            if not m or m.group(3) not in done:
                continue
            rec = _bloom_record(
                rel, name, os.path.join(dirpath, name), m.group(3), fpp
            )
            if rec is not None:
                records.append(rec)
    return _mdt_append_partition(
        root, "bloom_filters", "bloom-0000",
        BLOOM_FILTER_RECORD_SCHEMA, records, latest,
    )


def _mdt_append_partition(
    root: str,
    partition: str,
    file_group: str,
    schema: dict,
    records: list[dict],
    instant: str,
) -> str:
    """Bootstrap ``.hoodie/metadata`` if needed and append ONE
    committed AVRO log block of ``records`` to a log-only file group
    under the given metadata partition — the shared writer tail of the
    three ``write_metadata_table_*`` surfaces (one definition so the
    layout and deltacommit stamping can never drift between
    partitions). Returns the metadata table root."""
    from . import hudi_log as HL

    mdt = os.path.join(root, HOODIE_DIR, "metadata")
    hdir = os.path.join(mdt, HOODIE_DIR)
    os.makedirs(hdir, exist_ok=True)
    props = os.path.join(hdir, "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as f:
            f.write(
                "hoodie.table.name=metadata\n"
                "hoodie.table.type=MERGE_ON_READ\n"
            )
    os.makedirs(os.path.join(mdt, partition), exist_ok=True)
    lp = os.path.join(
        mdt, partition, HL.log_file_name(file_group, "00000000000000", 1)
    )
    HL.append_avro_block(lp, instant, schema, records)
    open(os.path.join(hdir, f"{instant}.deltacommit"), "w").close()
    return mdt


def _fold_metadata_partition(root: str, partition: str) -> list[dict] | None:
    """Commit-ordered records of one LOG-ONLY metadata-table partition
    (the shared driver-side fold of ``column_stats`` /
    ``bloom_filters``): ``None`` when the metadata table or the
    partition doesn't exist; committed AVRO blocks only; DELETE and
    unknown block types raise (one gate definition, so the partitions
    can never drift). Callers apply their payload-specific
    latest-writer-wins fold over the returned record order."""
    from . import hudi_log as HL

    mdt = os.path.join(root, HOODIE_DIR, "metadata")
    pdir = os.path.join(mdt, partition)
    if not os.path.isdir(pdir) or not os.path.exists(
        os.path.join(mdt, HOODIE_DIR, "hoodie.properties")
    ):
        return None
    done = _completed_commits(mdt, allow_delta=True)
    events: list[tuple[str, str, int, int, dict]] = []
    for name in sorted(os.listdir(pdir)):
        if not _LOGFILE_RE.match(name):
            continue
        lp = os.path.join(pdir, name)
        for bi, blk in enumerate(HL.read_log_blocks(lp)):
            inst = blk["instant"]
            if inst is None or inst not in done:
                continue
            if blk["type"] == HL.DELETE_BLOCK:
                raise HudiProtocolError(
                    f"metadata table log {name}: key-level metadata "
                    f"DELETE blocks are not supported in {partition}"
                )
            if blk["type"] != HL.AVRO_DATA_BLOCK:
                raise HudiProtocolError(
                    f"metadata table log {name}: unsupported block type "
                    f"{blk['type']} in {partition}"
                )
            for ri, rec in enumerate(blk["records"]):
                events.append((inst, name, bi, ri, rec))
    events.sort(key=lambda e: (e[0], e[1], e[2], e[3]))
    return [e[4] for e in events]


def _metadata_bloom_filters(root: str) -> dict[str, object] | None:
    """Read the metadata table's BLOOM_FILTERS partition back:
    ``{base file name: HadoopBloomFilter}``, or None when the table
    publishes no bloom filters (point lookups then keep every file).
    Same driver-side log-fold as the other partitions, latest writer
    wins per file, ``isDeleted`` retires an entry. Filters in a type
    this layer cannot parse raise (never silently treat a filter as
    match-all — callers would mistake that for a verified keep)."""
    from .bloom import HadoopBloomFilter

    records = _fold_metadata_partition(root, "bloom_filters")
    if records is None:
        return None
    state: dict[tuple[str, str], object] = {}
    for rec in records:
        bm = rec.get("BloomFilterMetadata")
        if not bm:
            continue
        # key = "partition,fileName": fold per (partition, file) — two
        # partitions can hold the same fileId+instant base file name,
        # and colliding them would consult the wrong filter
        part, _, fname = rec["key"].rpartition(",")
        slot = (os.path.normpath(part) if part else ".", fname)
        if bm.get("isDeleted"):
            state.pop(slot, None)
            continue
        if bm.get("type") != "SIMPLE":
            raise HudiProtocolError(
                f"bloom filter type {bm.get('type')!r}: only SIMPLE "
                "(Hadoop Writable) is supported"
            )
        state[slot] = HadoopBloomFilter.deserialize(bm["bloomFilter"])
    return state or None


def _part_and_name(root: str, path: str) -> tuple[str, str]:
    """A base file path -> its ``(partition dir, file name)`` pair, the
    key both metadata-index folds use (root-partition files key as
    ``"."``, matching the writers' normpath convention)."""
    return (
        os.path.normpath(os.path.relpath(os.path.dirname(path), root)),
        os.path.basename(path),
    )


def _bloom_prune(root: str, record_keys, candidates: dict, name_of) -> dict:
    """Drop candidate file groups whose bloom filter definitively
    excludes EVERY sought record key — the bloom-index point-lookup
    prune, decided from KBs of driver-side metadata.
    ``name_of(entry)`` maps a candidate value to its
    ``(partition, base file name)`` pair — the fold key, so same-named
    files in different partitions never consult each other's filter.
    Conservative: no bloom_filters partition or a file without a
    filter keeps the file; bloom false positives only ever keep extra
    files (never lose a row)."""
    blooms = _metadata_bloom_filters(root)
    if blooms is None:
        return candidates
    key_bytes = [str(k).encode("utf-8") for k in record_keys]

    def may_contain(entry) -> bool:
        bf = blooms.get(name_of(entry))
        if bf is None:
            return True
        return any(bf.might_contain(kb) for kb in key_bytes)

    return {k: v for k, v in candidates.items() if may_contain(v)}


def _metadata_column_stats(
    root: str,
) -> dict[tuple[str, str], dict[str, dict]] | None:
    """Read the metadata table's COLUMN_STATS partition back:
    ``{(partition, base file name):
    {column: {"min": v, "max": v, "nulls": n}}}``
    with wrapper values UNWRAPPED to plain comparables, or None when
    the table publishes no column stats (skipping then keeps every
    file). Same driver-side log-fold as the files partition — KB–MB of
    metadata whatever the table size — with latest-writer-wins per
    (file, column) key and ``isDeleted`` retiring an entry. A column
    whose record carries no bounds stays entry-less (conservative)."""
    records = _fold_metadata_partition(root, "column_stats")
    if records is None:
        return None
    state: dict[tuple[str, str], dict[str, dict]] = {}
    for rec in records:
        cs = rec.get("ColumnStatsMetadata")
        if not cs:
            continue
        # key = "partition,column,fileName": fold per (partition, file)
        # — the payload's fileName alone is not unique across
        # partitions, and colliding would prune from the wrong bounds
        part = rec["key"].rsplit(",", 2)[0] if rec["key"].count(",") >= 2 else ""
        per_file = state.setdefault(
            (os.path.normpath(part) if part else ".", cs["fileName"]), {}
        )
        if cs.get("isDeleted"):
            per_file.pop(cs["columnName"], None)
            continue
        mn, mx = cs.get("minValue"), cs.get("maxValue")
        per_file[cs["columnName"]] = {
            "min": None if mn is None else mn["value"],
            "max": None if mx is None else mx["value"],
            "nulls": cs.get("nullCount"),
        }
    return state or None


def _col_stats_prune(
    root: str,
    predicates: list[tuple[str, str, object]],
    candidates: dict,
    name_of,
    schema_file: str,
) -> dict:
    """Drop candidate file groups whose metadata-table column bounds
    provably exclude every row matching the conjunctive ``predicates``
    (``[(column, op, value), ...]``, op in SKIP_OPS) — Hudi
    column-stats data skipping, decided entirely from KBs of metadata.
    ``name_of(entry)`` maps a candidate value to its
    ``(partition, base file name)`` pair (the fold key; the name alone
    is not unique across partitions).
    CONSERVATIVE throughout: no column_stats partition, a file without
    records, a column without bounds, or an incomparable value type all
    keep the file. Date/timestamp bounds are stored as epoch days/micros
    (the wrapper encoding); the user's date/datetime predicate values
    are converted to the same representation using the read schema
    (one footer, already loaded for the scan schema)."""
    import datetime

    import pyarrow.parquet as pq
    from .io import SKIP_OPS, bounds_may_match

    for col, op, value in predicates:
        if op not in SKIP_OPS:
            raise ValueError(
                f"unsupported predicate op {op!r} (have {SKIP_OPS})"
            )
    # no column_stats partition -> nothing prunable: return before the
    # footer open so the common no-index path pays zero extra I/O
    # (column-NAME validation below needs the footer and therefore
    # only runs when a stats index exists to prune with)
    stats = _metadata_column_stats(root)
    if stats is None:
        return candidates
    arrow = {f.name: f.type for f in pq.ParquetFile(schema_file).schema_arrow}
    checked = []
    for col, op, value in predicates:
        if col not in arrow:
            raise ValueError(
                f"predicate names unknown column {col!r} "
                f"(schema columns: {sorted(c for c in arrow if c not in META_COLS)})"
            )
        if isinstance(value, datetime.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            value = int(
                (value - datetime.datetime(1970, 1, 1)).total_seconds()
                * 1_000_000
            )
        elif isinstance(value, datetime.date):
            value = (value - datetime.date(1970, 1, 1)).days
        checked.append((col, op, value))

    def may_match(entry) -> bool:
        per_file = stats.get(name_of(entry))
        if per_file is None:
            return True
        return all(
            bounds_may_match(
                per_file.get(col, {}).get("min"),
                per_file.get(col, {}).get("max"),
                op,
                value,
            )
            for col, op, value in checked
        )

    return {k: v for k, v in candidates.items() if may_match(v)}


def _latest_slices(
    root: str,
    as_of: str | None,
    partitions: list[str] | str | None,
    collect_logs: bool = False,
):
    """Newest completed base file per (partition dir, fileId) at or
    before ``as_of`` — the snapshot's file slices. ``partitions``
    prunes the listing to the admitted partition dirs. ``collect_logs``
    (the MERGE_ON_READ path) additionally gathers the groups' log files
    as ``{(partition, fileId): [(base_instant, version, path), ...]}``
    and returns ``(groups, logs)``; without it a log file on a COW read
    raises.

    File discovery prefers the table's METADATA TABLE
    (``.hoodie/metadata`` files partition, read driver-side by
    :func:`_metadata_table_listing`) — O(metadata records) instead of
    an O(files) ``os.walk`` with a listing round-trip per directory;
    the walk remains the fallback for tables without one."""
    done = _completed_commits(root, allow_delta=collect_logs)
    if as_of is not None:
        h = _clean_horizon(root)
        if h is not None and str(as_of) < h and not os.path.exists(
            os.path.join(root, HOODIE_DIR, f"{as_of}.savepoint")
        ):
            # a SAVEPOINTED instant stays readable below the horizon:
            # the cleaner pinned the slices serving it
            raise HudiProtocolError(
                f"as_of {as_of} predates the cleaner horizon {h}: the "
                "file slices serving that instant were removed by a "
                "clean — the read would silently return newer data"
            )
        done = _filter_done(done, as_of)
    logs: dict[tuple[str, str], list[tuple[str, int, str]]] = {}
    admit: set[str] | None = None
    if partitions is not None:
        admit = {
            os.path.normpath(p)
            for p in ([partitions] if isinstance(partitions, str) else partitions)
        }
    groups: dict[tuple[str, str], tuple[str, str]] = {}

    def classify(rel: str, dirpath: str, names) -> None:
        for name in names:
            if name.endswith(".log") or ".log." in name:
                if not collect_logs:
                    raise HudiProtocolError(
                        f"log file {name}: merge-on-read tables are not "
                        "supported on the COPY_ON_WRITE read path"
                    )
                lm = _LOGFILE_RE.match(name)
                if lm:
                    fid, base_instant, ver, _tok = lm.groups()
                    logs.setdefault((rel, fid), []).append(
                        (base_instant, int(ver), os.path.join(dirpath, name))
                    )
                continue
            m = _BASEFILE_RE.match(name)
            if not m:
                continue
            file_id, _token, instant = m.groups()
            if instant not in done:
                continue  # pending, time-traveled past, or rolled back
            key = (rel, file_id)
            if key not in groups or instant > groups[key][0]:
                groups[key] = (instant, os.path.join(dirpath, name))

    listing = _metadata_table_listing(root)
    if listing is not None:
        for part in sorted(listing):
            rel = os.path.normpath(part) if part not in ("", ".") else "."
            if admit is not None and rel not in admit and not any(
                rel.startswith(a + os.sep) for a in admit
            ):
                continue
            dirpath = root if rel == "." else os.path.join(root, rel)
            classify(rel, dirpath, listing[part])
    else:
        for dirpath, dirs, files in os.walk(root):
            if os.path.basename(dirpath) == HOODIE_DIR:
                dirs[:] = []  # never descend into the timeline
                continue
            rel = os.path.normpath(os.path.relpath(dirpath, root))
            if admit is not None:
                # prune the DESCENT: keep a subdir only if it stays on
                # the path of (or inside) an admitted partition dir
                prefix = "" if rel == "." else rel + os.sep
                dirs[:] = [
                    d for d in dirs
                    if any(
                        a == prefix + d
                        or a.startswith(prefix + d + os.sep)
                        or (prefix + d).startswith(a + os.sep)
                        for a in admit
                    )
                ]
                if rel not in admit and not any(
                    rel.startswith(a + os.sep) for a in admit
                ):
                    continue
            classify(rel, dirpath, files)
    replaced = _replaced_groups(root, as_of)
    if replaced:
        # clustering / insert_overwrite retired these groups: all their
        # slices (and any attached logs) are invisible at and after the
        # replacecommit; time travel before it never reaches here
        groups = {k: v for k, v in groups.items() if k not in replaced}
        logs = {k: v for k, v in logs.items() if k not in replaced}
    if collect_logs:
        return groups, logs
    return groups


#: payload classes whose merge is LATEST-WRITE-WINS (positional) — the
#: Hudi default; unqualified class-name match
_COMMIT_TIME_PAYLOADS = {
    "OverwriteWithLatestAvroPayload",
    "HoodieAvroPayload",
}
#: payload classes whose merge is EVENT-TIME ordered on the table's
#: precombine field (DefaultHoodieRecordPayload semantics)
_EVENT_TIME_PAYLOADS = {
    "DefaultHoodieRecordPayload",
    "EventTimeAvroPayload",
}


def _merge_ordering(props: dict) -> str | None:
    """Resolve the table's MERGE SEMANTICS from ``hoodie.properties``:
    returns the PRECOMBINE FIELD name when records compare on their
    event-time ordering value (Hudi 1.0's ``EVENT_TIME_ORDERING`` merge
    mode / the ``DefaultHoodieRecordPayload`` family), or ``None`` for
    the default commit-time (latest-writer-wins, positional) merge.
    Payload classes / merge modes whose semantics this layer does not
    implement (partial-update payloads, CUSTOM merge strategies) raise
    — merging them positionally would silently produce wrong rows."""
    mode = props.get(
        "hoodie.record.merge.mode",
        props.get("hoodie.table.record.merge.mode"),
    )
    precombine = props.get(
        "hoodie.table.precombine.field",
        props.get("hoodie.datasource.write.precombine.field"),
    )
    if mode is not None:
        m = mode.strip().upper()
        if m == "COMMIT_TIME_ORDERING":
            return None
        if m == "EVENT_TIME_ORDERING":
            if not precombine:
                raise HudiProtocolError(
                    "hoodie.record.merge.mode=EVENT_TIME_ORDERING without "
                    "a hoodie.table.precombine.field; the ordering value "
                    "is undefined"
                )
            return precombine
        raise HudiProtocolError(
            f"hoodie.record.merge.mode={mode}: CUSTOM/unknown merge "
            "strategies are not implemented"
        )
    payload = props.get(
        "hoodie.table.payload.class",
        props.get(
            "hoodie.compaction.payload.class",
            props.get("hoodie.datasource.write.payload.class"),
        ),
    )
    if payload is None:
        return None  # Hudi default: OverwriteWithLatestAvroPayload
    short = payload.rsplit(".", 1)[-1]
    if short in _COMMIT_TIME_PAYLOADS:
        return None
    if short in _EVENT_TIME_PAYLOADS:
        if not precombine:
            raise HudiProtocolError(
                f"payload class {short} orders on the precombine field, "
                "but hoodie.table.precombine.field is not set"
            )
        return precombine
    raise HudiProtocolError(
        f"payload class {payload}: merge semantics unknown to this "
        "reader (partial-update and custom payloads are not implemented)"
    )


def _avro_spark_type(t):
    """Avro log-schema type -> Spark type (flat MOR record schemas:
    primitives + nullable unions; anything else raises honestly)."""
    from pyspark.sql import types as T

    if isinstance(t, list):
        nn = [x for x in t if x != "null"]
        if len(nn) != 1:
            raise HudiProtocolError(f"unsupported avro union {t!r} in log schema")
        return _avro_spark_type(nn[0])
    if isinstance(t, dict):
        return _avro_spark_type(t.get("type"))
    m = {
        "string": T.StringType(),
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "bytes": T.BinaryType(),
    }
    if t in m:
        return m[t]
    raise HudiProtocolError(f"unsupported avro type {t!r} in log schema")


def _read_mor(
    spark: SparkSession,
    root: str,
    as_of: str | None,
    keep_meta: bool,
    partitions: list[str] | str | None,
    newer_than: str | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
    record_keys: list | None = None,
    only_groups: set[tuple[str, str]] | None = None,
) -> DataFrame:
    """MERGE_ON_READ snapshot: per file group, the latest completed base
    file MERGED with its attached log files' committed AVRO upsert
    blocks and DELETE tombstones — last writer wins per record key.

    Plan shape: base files are ONE Spark parquet scan (explicit
    schema); log records are decoded ON EXECUTORS (mapInPandas, one
    input partition per log file) after a driver-side HEADER-ONLY scan
    (`hudi_log.scan_block_headers` seeks over content) that gates block
    types and filters uncommitted/time-traveled-past instants — the
    driver touches record payloads only when the logs' decoded rows fit
    under the broadcast bound (:func:`~..session.pandas_kernel`). The
    merge is one window over
    ``(_hoodie_record_key [, _hoodie_partition_path])`` ordered by
    (instant, log position) — the same per-key resolution a native
    Hudi MOR reader performs, expressed as one key-partitioned shuffle
    — applied ONLY to file groups that actually carry committed log
    blocks: log-free groups' base files union into the output without
    touching the shuffle (per Hudi's model a record key lives in
    exactly one file group per partition, so merges resolve within the
    group), which at 100 TB means shuffling the logged minority, not
    the table.

    DELETE blocks (the normal upsert-with-delete write path) join the
    same window as TOMBSTONE rows — key present, payload null — so a
    key whose newest committed writer is a delete drops out, and a
    later re-insert resurrects it; a delete record without a
    partitionPath scopes to the log file's own partition dir. Delete
    payloads in serializations this layer does not parse (legacy kryo)
    raise `HudiLogUnsupportedError` on the executor rather than
    silently dropping deletes. Rollback COMMAND blocks raise; pending
    deltacommit blocks of ANY type are invisible, exactly like pending
    COW files.

    MERGE ORDERING follows the table's declared semantics
    (:func:`_merge_ordering`): the default is COMMIT-TIME ordering —
    (instant, log position), latest writer wins. When
    ``hoodie.properties`` declares EVENT-TIME ordering (merge mode
    ``EVENT_TIME_ORDERING`` or a ``DefaultHoodieRecordPayload``-family
    payload class with ``hoodie.table.precombine.field``), the window
    leads with the PRECOMBINE value descending — a stale upsert with a
    lower event time never clobbers a newer row, whatever order the
    writers landed in; (instant, position) breaks ties, which matches
    Hudi's ``>=``-incoming-wins comparison. Delete records then compete
    on their own ``orderingVal``; a delete record WITHOUT one cannot be
    ordered against event times and raises (legacy delete payloads are
    only mergeable under commit-time semantics). Rows whose precombine
    value is NULL sort below every valued row (positional among
    themselves). Payload classes with partial-update or custom
    semantics raise honestly.

    ``newer_than`` (the incremental-query path) prunes at the FILE
    GROUP level: a group whose base file and every committed log block
    predate the instant contributes nothing after the caller's per-row
    commit-time filter, so it is never opened; touched groups still
    merge their FULL base+log history (an upsert's net value needs the
    older rows), and the row filter happens downstream.
    """
    import json as _json

    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    from . import hudi_log as HL

    precombine = _merge_ordering(_properties(root))
    groups, logs = _latest_slices(root, as_of, partitions, collect_logs=True)
    if only_groups is not None:
        # CDC inference restriction: diff only the TOUCHED file groups
        # (per Hudi's model a record key lives in exactly one group per
        # partition, so the untouched majority cannot carry changes)
        groups = {k: v for k, v in groups.items() if k in only_groups}
        logs = {k: v for k, v in logs.items() if k in only_groups}
    pending = _pending_compaction_groups(root)
    if (predicates or record_keys) and groups:
        # metadata skipping on MOR: only LOG-FREE groups are prunable
        # from base-file stats/blooms — a committed log block may add
        # rows (or keys) the base file excludes, so logged groups
        # always stay. Conservative, like every skipping path here. A
        # group whose only logs are a PENDING-compaction chain is
        # logged too — those blocks fold onto this base.
        newest_file = max(groups.values())[1]
        logfree = {
            k: b
            for k, b in groups.items()
            if not [
                l for l in logs.get(k, [])
                if l[0] == b[0] or l[0] == pending.get(k)
            ]
        }
        kept = logfree
        if predicates:
            kept = _col_stats_prune(
                root,
                predicates,
                kept,
                lambda b: _part_and_name(root, b[1]),
                newest_file,
            )
        if record_keys:
            kept = _bloom_prune(
                root, record_keys, kept, lambda b: _part_and_name(root, b[1])
            )
        for k in set(logfree) - set(kept):
            groups.pop(k)
            # drop the group's log files too: stale logs from a
            # pre-compaction slice (base_instant != current base) would
            # otherwise re-enter the merge as a base-less "log-only"
            # group and emit rows the compacted base already folded in
            logs.pop(k, None)
        if not groups and not logs:
            schema = from_arrow_schema(
                pq.ParquetFile(newest_file).schema_arrow,
                prefer_timestamp_ntz=True,
            )
            out = local_frame(spark, [], schema)
            if not keep_meta:
                out = out.drop(*[c for c in META_COLS if c in out.columns])
            return out
    done_all = _completed_commits(root, allow_delta=True)
    done = done_all
    if as_of is not None:
        done = _filter_done(done, as_of)
    key_of: dict[str, tuple] = {}
    base_of: dict[tuple, tuple[str, str]] = {}
    selected: list[tuple[str, int, str]] = []
    for key in sorted(set(groups) | set(logs)):
        base = groups.get(key)
        lfs = sorted(logs.get(key, []))
        if base is not None:
            base_of[key] = base
            # mid-pending-compaction appends attach to the REQUESTED
            # instant; until the plan completes they fold onto the old
            # base (afterwards the new base at that instant owns them)
            pi = pending.get(key)
            lfs = [l for l in lfs if l[0] == base[0] or l[0] == pi]
        for l in lfs:
            key_of[l[2]] = key
        selected.extend(lfs)
    # driver header scan: gate block types, keep committed avro blocks
    selected.sort()
    valid: list[tuple[str, list[int]]] = []
    max_inst_of: dict[tuple, str] = {
        k: b[0] for k, b in base_of.items()
    }
    first_schema_json: str | None = None
    # schema of ANY committed avro block on the full timeline (not the
    # as_of window) — lets an incremental query over a log-only table
    # whose blocks all fall outside the window answer with an EMPTY
    # frame of the right shape instead of raising
    fallback_schema_json: str | None = None
    for _bi, _ver, p in selected:
        idxs = []
        for bi, h in enumerate(HL.scan_block_headers(p)):
            inst = h["instant"]
            if inst is None:
                raise HL.HudiLogCorruptError(
                    f"{p}: log block without INSTANT_TIME header"
                )
            if (
                fallback_schema_json is None
                and inst in done_all
                and h["type"] == HL.AVRO_DATA_BLOCK
            ):
                fallback_schema_json = h["header"].get(HL.H_SCHEMA)
            if inst not in done:
                # pending / pruned-by-replay / time-traveled past:
                # invisible whatever the block type (snapshot isolation)
                continue
            if h["type"] == HL.COMMAND_BLOCK:
                # ROLLBACK command: invalidates earlier blocks of the
                # TARGET instant in this file. Under timeline gating a
                # rolled-back instant is never completed, so its blocks
                # are already invisible — the command carries no extra
                # information and is skipped. A rollback whose target
                # IS completed is inconsistent metadata and raises
                # (processing it would hide committed data; ignoring it
                # would contradict the writer).
                if h["header"].get(HL.H_COMMAND_BLOCK_TYPE, "0") != "0":
                    raise HudiProtocolError(
                        f"log file {os.path.basename(p)}: unknown COMMAND "
                        f"block type {h['header'].get(HL.H_COMMAND_BLOCK_TYPE)!r}"
                    )
                tgt = h["header"].get(HL.H_TARGET_INSTANT_TIME)
                if tgt is not None and tgt in done:
                    raise HudiProtocolError(
                        f"log file {os.path.basename(p)}: rollback COMMAND "
                        f"block targets COMPLETED instant {tgt}; "
                        "inconsistent timeline"
                    )
                continue
            if h["type"] not in (HL.AVRO_DATA_BLOCK, HL.DELETE_BLOCK):
                raise HudiProtocolError(
                    f"log file {os.path.basename(p)}: unsupported block "
                    f"type {h['type']}"
                )
            if (
                h["type"] == HL.AVRO_DATA_BLOCK
                and first_schema_json is None
            ):
                first_schema_json = h["header"].get(HL.H_SCHEMA)
            idxs.append(bi)
            k = key_of[p]
            if k not in max_inst_of or inst > max_inst_of[k]:
                max_inst_of[k] = inst
        if idxs:
            valid.append((p, idxs))
    if newer_than is not None:
        # incremental pruning: a group whose base AND every committed
        # block predate the window start contributes nothing after the
        # per-row commit-time filter — never open it
        sel = {k for k, mi in max_inst_of.items() if mi > str(newer_than)}
        valid = [(p, idxs) for p, idxs in valid if key_of[p] in sel]
    else:
        sel = set(base_of) | {key_of[p] for p, _i in valid}
    # MERGE ONLY WHAT HAS LOGS: a file group with no committed log
    # blocks needs no per-key resolution — its base file unions into
    # the output directly, bypassing the record-key shuffle. At 100 TB
    # with logs on a few % of groups this is the difference between
    # shuffling the whole table and shuffling the logged minority.
    # (Per Hudi's model a record key lives in exactly one file group
    # per partition, so tombstones/upserts resolve within their group.)
    logged_keys = {key_of[p] for p, _i in valid}
    merged_bases = sorted(
        b[1] for k, b in base_of.items() if k in sel and k in logged_keys
    )
    plain_bases = sorted(
        b[1] for k, b in base_of.items() if k in sel and k not in logged_keys
    )
    if newer_than is not None and not groups and first_schema_json is None:
        # incremental window selected nothing on a log-only table: an
        # empty result, not an error — shape the frame from any
        # committed block's schema (captured above, outside the window)
        first_schema_json = fallback_schema_json
    if (
        not merged_bases and not plain_bases and not valid
        and newer_than is None
    ) or (not groups and first_schema_json is None):
        raise ValueError(
            f"no completed base files or log blocks visible at "
            f"{'as_of=' + str(as_of) if as_of is not None else 'latest'}"
        )
    if groups:
        newest = max(groups.values())[1]
        schema = from_arrow_schema(
            pq.ParquetFile(newest).schema_arrow, prefer_timestamp_ntz=True
        )
        # tombstone rows carry NULL payload columns through the merge
        # window, so the working schema must be nullable even when the
        # footer marks columns required
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in schema.fields]
        )
    else:  # log-only table: schema from the first committed block
        avro = _json.loads(first_schema_json or "null")
        if not isinstance(avro, dict) or avro.get("type") != "record":
            raise HudiProtocolError("log block SCHEMA header is not a record")
        schema = T.StructType(
            [
                T.StructField(f["name"], _avro_spark_type(f["type"]), True)
                for f in avro["fields"]
            ]
        )
    if "_hoodie_record_key" not in schema.names:
        raise HudiProtocolError(
            "merge-on-read needs the _hoodie_record_key meta column to "
            "resolve upserts; this table's files lack it"
        )
    names = [f.name for f in schema.fields]
    if precombine is not None and precombine not in names:
        raise HudiProtocolError(
            f"precombine field {precombine!r} (event-time merge ordering) "
            f"is not in the table schema {names}"
        )
    ord_fields = [
        T.StructField("__instant", T.StringType(), True),
        T.StructField("__fidx", T.LongType(), True),
        T.StructField("__bi", T.LongType(), True),
        T.StructField("__ri", T.LongType(), True),
        T.StructField("__del", T.BooleanType(), True),
    ]
    if precombine is not None:
        ord_fields.append(
            T.StructField(
                "__ord", schema[precombine].dataType, True
            )
        )
    log_schema = T.StructType(list(schema.fields) + ord_fields)
    has_ppath = "_hoodie_partition_path" in names
    if valid:
        file_rows = [
            (
                i,
                p,
                os.path.relpath(os.path.dirname(p), root),
                _json.dumps(idxs),
            )
            for i, (p, idxs) in enumerate(valid)
        ]
        fdf = local_frame(
            spark,
            file_rows, "fidx long, path string, part string, blocks string"
        ).repartition(len(file_rows), "fidx")

        def parse(iterator):
            import pandas as pd

            for pdf in iterator:
                for fidx, path, part, bjson in zip(
                    pdf["fidx"], pdf["path"], pdf["part"], pdf["blocks"]
                ):
                    keep = set(_json.loads(bjson))
                    cols: dict = {n: [] for n in names}
                    insts: list = []
                    bis: list = []
                    ris: list = []
                    dels: list = []
                    ords: list = []
                    for bi, blk in enumerate(HL.read_log_blocks(path)):
                        if bi not in keep:
                            continue
                        if blk["type"] == HL.DELETE_BLOCK:
                            # tombstones: key columns only, payload null
                            for ri, d in enumerate(
                                HL.decode_delete_records(
                                    blk["delete_content"]
                                )
                            ):
                                for n in names:
                                    if n == "_hoodie_record_key":
                                        cols[n].append(d.get("recordKey"))
                                    elif n == "_hoodie_partition_path":
                                        pp = d.get("partitionPath")
                                        cols[n].append(
                                            part if pp is None else pp
                                        )
                                    else:
                                        cols[n].append(None)
                                if precombine is not None:
                                    ov = d.get("orderingVal")
                                    if ov is None:
                                        raise HL.HudiLogUnsupportedError(
                                            f"{os.path.basename(path)}: "
                                            "delete record without an "
                                            "orderingVal under event-time "
                                            "merge ordering — it cannot be "
                                            "ordered against precombine "
                                            "values"
                                        )
                                    ords.append(ov)
                                insts.append(blk["instant"])
                                bis.append(bi)
                                ris.append(ri)
                                dels.append(True)
                            continue
                        for ri, rec in enumerate(blk["records"]):
                            for n in names:
                                cols[n].append(rec.get(n))
                            if precombine is not None:
                                ords.append(rec.get(precombine))
                            insts.append(blk["instant"])
                            bis.append(bi)
                            ris.append(ri)
                            dels.append(False)
                    if insts:
                        out = pd.DataFrame(cols)
                        out["__instant"] = insts
                        out["__fidx"] = int(fidx)
                        out["__bi"] = bis
                        out["__ri"] = ris
                        out["__del"] = dels
                        if precombine is not None:
                            out["__ord"] = ords
                        yield out

        # input plus output bytes: the log files' sizes, inflated to
        # the decoded rows' in-memory width
        from .io import BROADCAST_INFLATION

        est = BROADCAST_INFLATION * sum(os.path.getsize(p) for p, _i in valid)
        log_df = pandas_kernel(
            fdf, parse, log_schema, est_bytes=est, spec=file_rows
        )
    else:
        log_df = None
    if log_df is not None:
        if merged_bases:
            base = spark.read.schema(schema).parquet(*merged_bases)
            binst = (
                F.col("_hoodie_commit_time")
                if "_hoodie_commit_time" in names
                else F.lit("")
            )
            base = (
                base.withColumn("__instant", binst)
                .withColumn("__fidx", F.lit(-1).cast("long"))
                .withColumn("__bi", F.lit(-1).cast("long"))
                .withColumn("__ri", F.lit(-1).cast("long"))
                .withColumn("__del", F.lit(False))
            )
            if precombine is not None:
                base = base.withColumn("__ord", F.col(precombine))
        else:
            base = local_frame(spark, [], log_schema)
        keyc = ["_hoodie_record_key"]
        if has_ppath:
            keyc.append("_hoodie_partition_path")
        # event-time ordering leads with the precombine value when the
        # table declares it; (instant, position) breaks ties — matching
        # Hudi's >=-incoming-wins pairwise comparison as a total order
        sort_keys = [
            F.desc("__instant"), F.desc("__fidx"), F.desc("__bi"),
            F.desc("__ri"),
        ]
        drop_cols = ["__rn", "__instant", "__fidx", "__bi", "__ri", "__del"]
        if precombine is not None:
            sort_keys.insert(0, F.desc_nulls_last("__ord"))
            drop_cols.append("__ord")
        w = Window.partitionBy(*keyc).orderBy(*sort_keys)
        out = (
            base.unionByName(log_df)
            .withColumn("__rn", F.row_number().over(w))
            # keep each key's winning committed writer — unless that
            # writer was a DELETE tombstone, which drops the key
            .filter((F.col("__rn") == 1) & ~F.col("__del"))
            .drop(*drop_cols)
        )
    else:
        out = None
    if plain_bases:
        plain = spark.read.schema(schema).parquet(*plain_bases)
        out = plain if out is None else out.unionByName(plain)
    if out is None:
        out = local_frame(spark, [], schema)
    if not keep_meta:
        out = out.drop(*[c for c in META_COLS if c in out.columns])
    return out


def read_hudi(
    spark: SparkSession,
    root: str,
    as_of: str | None = None,
    keep_meta: bool = False,
    partitions: list[str] | str | None = None,
    predicates: list[tuple[str, str, object]] | None = None,
    record_keys: list | None = None,
) -> DataFrame:
    """Snapshot-read a Hudi COW table: the latest completed base file of
    every file group (``as_of=<instant>`` time-travels to commits at or
    before that instant). Pending/inflight writers' files and superseded
    file versions are never handed to Spark.

    ``predicates`` — conjunctive ``[(column, op, value), ...]`` with op
    in ``< <= = == >= >`` — DATA-SKIPS at the metadata level using the
    metadata table's COLUMN_STATS partition (the per-file min/max
    bounds every stats-indexing Hudi writer maintains): a file whose
    published bounds provably exclude every matching row is never
    listed or planned, decided from KBs of driver-side metadata
    instead of a footer open per file. Conservative — files without
    stats records, columns without bounds, or incomparable value types
    are kept, so pruning only shrinks the file list, never the result
    (same contract as ``read_delta(predicates=)``). On MERGE_ON_READ
    tables only log-free file groups are prunable (a committed log
    block may add rows outside the base file's bounds). Unknown
    columns / ops raise.

    ``record_keys`` — a list of ``_hoodie_record_key`` values — prunes
    through the metadata table's BLOOM_FILTERS partition (Hudi's bloom
    index): a file group whose filter definitively excludes every
    sought key is never planned, the point-lookup shape that turns
    "fetch these 5 records" from a table scan into opening a handful
    of files. Bloom false positives only keep extra files; missing
    filters keep the file; the same MOR log-free restriction applies.
    Composable with ``predicates`` (both prunes apply).

    ``partitions`` prunes at the LISTING level: a partition-path string
    (or list of them, e.g. ``["2024/01/01", "2024/01/02"]``) restricts
    the walk to those directories — the listing bound drops from
    O(table files) to O(admitted-partition files), which at 100 TB is
    the difference between walking one day and walking the table.
    Unknown partition paths simply match nothing (Hudi partition paths
    are opaque strings, not declared metadata).

    MERGE_ON_READ tables route to the log-merging snapshot path (see
    :func:`_read_mor`): base files + committed AVRO upsert blocks,
    last writer wins per record key."""
    props = _properties(root)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype == "MERGE_ON_READ":
        return _read_mor(
            spark, root, as_of, keep_meta, partitions,
            predicates=predicates, record_keys=record_keys,
        )
    if ttype != "COPY_ON_WRITE":
        raise HudiProtocolError(
            f"hoodie.table.type={ttype}: unknown table type"
        )
    groups = _latest_slices(root, as_of, partitions)
    if not groups:
        raise ValueError(
            f"no completed base files visible at "
            f"{'as_of=' + str(as_of) if as_of is not None else 'latest'}"
        )
    # explicit read schema from the NEWEST selected base file's footer —
    # the latest completed writer's schema, read once on the driver; no
    # footer-sampling inference pass over the whole file list. Schema
    # resolves BEFORE stats pruning so a pruned-to-empty read still
    # returns the right shape.
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    newest = max(groups.values())[1]
    schema = from_arrow_schema(
        pq.ParquetFile(newest).schema_arrow, prefer_timestamp_ntz=True
    )
    if predicates:
        groups = _col_stats_prune(
            root, predicates, groups,
            lambda v: _part_and_name(root, v[1]), newest,
        )
    if record_keys:
        groups = _bloom_prune(
            root, record_keys, groups, lambda v: _part_and_name(root, v[1])
        )
    if not groups:
        out = local_frame(spark, [], schema)
        if not keep_meta:
            out = out.drop(*[c for c in META_COLS if c in out.columns])
        return out
    paths = sorted(p for _i, p in groups.values())
    df = spark.read.schema(schema).parquet(*paths)
    if not keep_meta:
        df = df.drop(*[c for c in META_COLS if c in df.columns])
    return df
