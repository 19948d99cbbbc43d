"""admissions_upsert: change batches committed to four table formats.

A per-patient admissions table is staged once per run in each format:
``SnapshotTable`` (merge / delete), Delta (``merge_delta``), Iceberg
(``merge_iceberg``) and Hudi merge-on-read (``export_hudi`` of the
SnapshotTable, published after its commit). One pass applies the generated
batches in order, each batch as one commit per format, and reads that
commit's change feed back. Every run starts from the same staged state.
"""

from __future__ import annotations

import os
import re
import shutil

import checks
import gen
from tracing import (
    PassWindow, job_spans_s, span_totals, spark_totals, trace_record, union_length,
)

N_BASE = 2000
N_BUCKETS = 2
#: one upsert batch (updates + inserts) and one delete batch per pass
BATCHES = dict(n_batches=2, n_update=200, n_insert=50, n_delete=100)
FORMATS = ("table", "delta", "iceberg", "hudi")
COLS = ("patient_id", "admissions", "los_days", "ward", "risk")
_COMPLETED = re.compile(r"^\d+\.(commit|deltacommit|replacecommit)$")


def stage(spark, seed: int, d) -> dict:
    """Generate the base table and the batches and write them as parquet
    (the repeated part of set-up; the tables are staged in Workload)."""
    base, batches = gen.upserts(seed, N_BASE, **BATCHES)
    paths = [gen.write_parquet(tb, str(d / f"batch{i}.parquet")) for i, (_, tb) in enumerate(batches)]
    return {
        "dir": d,
        "base": gen.write_parquet(base, str(d / "base.parquet")),
        "batches": [(kind, p, tb) for (kind, tb), p in zip(batches, paths)],
    }


def _disk(root) -> dict:
    """path -> size of every file under a table root."""
    out = {}
    for dp, _dn, fn in os.walk(root):
        for f in fn:
            p = os.path.join(dp, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    known_faults = ()

    def __init__(self, spark, seed, inputs, work, tracer):
        from predicting_hospital_readmission_using_mimic_database_spark.sources import (
            delta, hudi_export, iceberg,
        )
        from predicting_hospital_readmission_using_mimic_database_spark.sources.table import (
            SnapshotTable,
        )

        self.spark, self.tracer = spark, tracer
        base = spark.read.parquet(inputs["base"]).select(*COLS)
        self.roots = {f: str(work / "tables" / f) for f in FORMATS}
        # one SnapshotTable holds the base rows; its log names files by
        # relative path, so each format starts from a plain copy of it
        seed_root = str(work / "tables" / "base")
        SnapshotTable.create(
            spark, seed_root, gen.UPSERT_SCHEMA, bucket_key=["patient_id"], num_buckets=N_BUCKETS,
        ).append(base)
        tables = {}
        for f in ("table", "delta", "iceberg"):
            shutil.copytree(seed_root, self.roots[f])
            tables[f] = SnapshotTable(spark, self.roots[f])
        delta.export_delta_log(tables["delta"])
        iceberg.export_iceberg(tables["iceberg"])
        self.hudi_instant = hudi_export.export_hudi(
            tables["table"], self.roots["hudi"], table_type="MERGE_ON_READ")
        self.table = tables["table"]
        self.state = {int(r[0]): tuple(r) for r in base.collect()}
        self.batches = [(kind, spark.read.parquet(path).select(*COLS), tb)
                        for kind, path, tb in inputs["batches"]]

    # -- one commit + change read per format ---------------------------------
    def _commit(self, fmt, kind, src, keys):
        from pyspark.sql import functions as F

        from predicting_hospital_readmission_using_mimic_database_spark.sources import (
            delta_dml, hudi_export, iceberg_dml,
        )

        spark, tr = self.spark, self.tracer
        upsert = kind == "upsert"
        if fmt == "table":
            with tr.span("table.merge"):
                if upsert:
                    return self.table.merge(src)
                return self.table.delete(F.col("patient_id").isin(keys))
        if fmt == "delta":
            with tr.span("delta.merge"):
                if upsert:
                    return delta_dml.merge_delta(spark, self.roots["delta"], src, on=["patient_id"])["version"]
                return delta_dml.merge_delta(spark, self.roots["delta"], src, on=["patient_id"],
                                             when_matched="delete", insert=False)["version"]
        if fmt == "iceberg":
            with tr.span("iceberg.merge"):
                if upsert:
                    return iceberg_dml.merge_iceberg(spark, self.roots["iceberg"], src, on=["patient_id"])["snapshot_id"]
                return iceberg_dml.merge_iceberg(spark, self.roots["iceberg"], src, on=["patient_id"],
                                                 when_matched="delete", insert=False)["snapshot_id"]
        # the SnapshotTable already holds this batch (FORMATS commits it
        # first); publishing it is the Hudi commit
        with tr.span("hudi.export"):
            return hudi_export.export_hudi(self.table, self.roots["hudi"], table_type="MERGE_ON_READ")

    def _versions(self, fmt) -> int:
        from predicting_hospital_readmission_using_mimic_database_spark.sources import (
            delta, iceberg,
        )

        if fmt == "table":
            return len(self.table.history())
        if fmt == "delta":
            return delta.delta_table_version(self.roots["delta"]) + 1
        if fmt == "iceberg":
            return len(iceberg.iceberg_snapshots(self.roots["iceberg"]))
        # completed instants on the timeline, read per the Hudi layout
        # (hudi.hudi_commits refuses merge-on-read timelines)
        hoodie = os.path.join(self.roots["hudi"], ".hoodie")
        return sum(1 for f in os.listdir(hoodie) if _COMPLETED.match(f))

    def _changes(self, fmt, prev, cur) -> tuple[set, dict]:
        """Read one commit's change feed; returns (keys it deletes, rows it
        inserts), an update being a delete of the key plus its new row."""
        from predicting_hospital_readmission_using_mimic_database_spark.sources import (
            delta, hudi, iceberg,
        )

        spark = self.spark
        with self.tracer.span(f"{fmt}.changes"):
            if fmt == "table":
                rows = self.table.read_changes(cur - 1, cur).collect()
                kinds = {"delete": "-", "insert": "+"}
            elif fmt == "delta":
                rows = delta.read_delta_changes(spark, self.roots["delta"], cur, cur).collect()
                kinds = {"delete": "-", "update_preimage": "-", "insert": "+", "update_postimage": "+"}
            elif fmt == "iceberg":
                rows = iceberg.read_iceberg_changelog(spark, self.roots["iceberg"], prev, cur).collect()
                kinds = {"delete": "-", "insert": "+"}
            else:
                rows = hudi.read_hudi_changes(spark, self.roots["hudi"], begin=prev, end=cur).collect()
        deleted, upserted = set(), {}
        if fmt == "hudi":
            for r in rows:
                if r["op"] in ("u", "d"):
                    deleted.add(int(r["before"]["patient_id"]))
                if r["op"] in ("i", "u"):
                    t = tuple(r["after"][c] for c in COLS)
                    upserted[int(t[0])] = t
            return deleted, upserted
        for r in rows:
            k = kinds[r["_change_type"]]
            t = tuple(r[c] for c in COLS)
            if k == "-":
                deleted.add(int(t[0]))
            else:
                upserted[int(t[0])] = t
        return deleted, upserted

    def _snapshot(self, fmt) -> dict:
        from predicting_hospital_readmission_using_mimic_database_spark.sources import (
            delta, hudi, iceberg,
        )

        spark = self.spark
        df = {
            "table": lambda: self.table.read(),
            "delta": lambda: delta.read_delta(spark, self.roots["delta"]),
            "iceberg": lambda: iceberg.read_iceberg(spark, self.roots["iceberg"]),
            "hudi": lambda: hudi.read_hudi(spark, self.roots["hudi"]),
        }[fmt]()
        return {int(r[0]): tuple(r) for r in df.select(*COLS).collect()}

    # -- one pass --------------------------------------------------------------
    def run_pass(self, meter, tally) -> dict:
        from predicting_hospital_readmission_using_mimic_database_spark.sources import iceberg

        tr = self.tracer
        tr.reset()
        win = PassWindow(tr) if tr.enabled else None
        commit_s, read_s, commits = [], [], []
        snap = {f: dict(self.state) for f in FORMATS}
        ids = {"iceberg": iceberg.iceberg_snapshots(self.roots["iceberg"])[-1]["snapshot_id"],
               "hudi": self.hudi_instant}
        expected = dict(self.state)
        for kind, src, tb in self.batches:
            keys = [int(k) for k in tb.column("patient_id").to_pylist()]
            if kind == "upsert":
                expected.update({r["patient_id"]: tuple(r[c] for c in COLS) for r in tb.to_pylist()})
            else:
                for k in keys:
                    expected.pop(k, None)
            for fmt in FORMATS:
                n0 = self._versions(fmt)
                disk0 = _disk(self.roots[fmt]) if tr.enabled else None
                t0 = meter.wall
                with tr.span("commit") as span:
                    with meter.segment():
                        cur = self._commit(fmt, kind, src, keys)
                commit_s.append(meter.wall - t0)
                t0 = meter.wall
                with meter.segment():
                    deleted, upserted = self._changes(fmt, ids.get(fmt), cur)
                read_s.append(meter.wall - t0)
                ids[fmt] = cur
                # the checks' own reads run under a span whose jobs and
                # time the traced pass totals leave out
                with tr.span("bench") as own:
                    if tr.enabled:
                        disk1 = _disk(self.roots[fmt])
                        commits.append({
                            "tag": span["tag"], "wall": span["end"] - span["start"],
                            "files": len(set(disk1) - set(disk0)),
                            "bytes": sum(s for p, s in disk1.items() if disk0.get(p) != s),
                            "rows_bytes": tb.nbytes,
                        })
                    after = self._snapshot(fmt)
                    tally.run(f"{fmt}_snapshot", checks.snapshot, after, expected)
                    tally.run(f"{fmt}_feed", checks.feed_nets, snap[fmt], after, deleted, upserted)
                    tally.run(f"{fmt}_version", checks.one_version, n0, self._versions(fmt), fmt)
                    snap[fmt] = after
                if win:
                    win.exclude(own)
        if win:
            win.close()
        rec = {"commit_s": commit_s, "read_s": read_s}
        if win:
            rec["layers"] = self._layers(win, commits)
        return rec


    def _layers(self, win, commits) -> dict:
        tr = self.tracer
        jobs = tr.jobs_after(win.job0)
        self.trace = trace_record(tr, win, jobs)
        out = spark_totals(tr, win, jobs)
        for fmt, op in (("table", "merge"), ("delta", "merge"), ("iceberg", "merge"), ("hudi", "export")):
            s = span_totals(tr, jobs, f"{fmt}.{op}")
            out[f"{fmt}.{op}_s"] = s["wall_s"] / max(1, s["calls"])
            c = span_totals(tr, jobs, f"{fmt}.changes")
            out[f"{fmt}.changes_s"] = c["wall_s"] / max(1, c["calls"])
        n = max(1, len(commits))
        by_tag = {}
        for j in jobs:
            for t in j.get("jobTags") or ():
                by_tag.setdefault(t, []).append(j)
        out["sources.jobs_per_commit"] = sum(len(by_tag.get(c["tag"], [])) for c in commits) / n
        out["sources.driver_s_per_commit"] = sum(
            max(0.0, c["wall"] - union_length(job_spans_s(by_tag.get(c["tag"], []))))
            for c in commits) / n
        out["sources.files_per_commit"] = sum(c["files"] for c in commits) / n
        out["sources.write_amp"] = sum(c["bytes"] for c in commits) / max(1, sum(c["rows_bytes"] for c in commits))
        out["trace.overhead_s"] = tr.overhead_s
        return out
