"""Seeded input generators for the workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, and nothing is cached between runs (each run writes its inputs
afresh into its own work directory).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "login", "purchase", "view", "error")
EVENT_TYPE_P = (0.10, 0.30, 0.15, 0.35, 0.10)
FREQUENT_SHARE = 0.066


# ---------------------------------------------------------------------------
# admissions: the harness `events` schema, one row per admission event
# ---------------------------------------------------------------------------


def admissions(seed: int, n_patients: int) -> pa.Table:
    """Per-patient event streams in the harness ``events`` schema
    (event_id, ts, user_id, event_type, value, props).

    Each patient has a personal mean gap between admissions and gaps are
    exponential around it; ``signup`` plays the planned (elective)
    admission. A fixed 6.6% of patients (the reference's frequent-
    readmitter prevalence) get mean gaps of 0.1-0.3 days, the rest 1.5 days
    or more, so the plan's label ("mean gap to the next unplanned
    admission under 0.56 days") marks nearly the same number of patients
    under every seed and the class sizes, hence the resampled training
    sets, barely move between seeds.
    """
    rng = np.random.default_rng([seed, 1])
    mean_gap = np.maximum(np.exp(rng.normal(np.log(3.0), 0.4, n_patients)), 1.5)
    frequent = rng.permutation(n_patients)[: round(FREQUENT_SHARE * n_patients)]
    mean_gap[frequent] = rng.uniform(0.1, 0.3, frequent.size)
    n_ev = 10 + rng.poisson(10, n_patients)
    uid = np.repeat(np.arange(n_patients, dtype=np.int64), n_ev)
    gaps = rng.exponential(np.repeat(mean_gap, n_ev))
    start = rng.uniform(0.0, 365.0, n_patients)
    cum = np.cumsum(gaps)
    first = np.repeat(np.cumsum(n_ev) - n_ev, n_ev)
    before = np.concatenate([[0.0], cum])[first]
    days = np.repeat(start, n_ev) + cum - before
    micros = (days * 86400e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")
    kinds = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), uid.size, p=EVENT_TYPE_P)]
    value = np.round(rng.gamma(2.0, 50.0, uid.size), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, uid.size).astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(uid.size, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(uid),
            "event_type": pa.array(kinds.astype(object), pa.string()),
            "value": pa.array(value),
            "props": pa.array(props.astype(object), pa.string()),
        }
    )


# ---------------------------------------------------------------------------
# upserts: a per-patient admissions table and its change batches
# ---------------------------------------------------------------------------

UPSERT_SCHEMA = "patient_id bigint, admissions int, los_days double, ward string, risk double"
WARDS = ("cardiology", "icu", "medicine", "oncology", "surgery")


def _patient_rows(rng, ids: np.ndarray) -> dict:
    n = ids.size
    return {
        "patient_id": ids.astype(np.int64),
        "admissions": rng.integers(1, 30, n).astype(np.int32),
        "los_days": np.round(rng.gamma(2.0, 2.5, n), 3),
        "ward": np.array(WARDS, dtype=object)[rng.integers(0, len(WARDS), n)],
        "risk": np.round(rng.random(n), 6),
    }


def _arrow(cols: dict) -> pa.Table:
    return pa.table(
        {
            "patient_id": pa.array(cols["patient_id"], pa.int64()),
            "admissions": pa.array(cols["admissions"], pa.int32()),
            "los_days": pa.array(cols["los_days"], pa.float64()),
            "ward": pa.array(cols["ward"], pa.string()),
            "risk": pa.array(cols["risk"], pa.float64()),
        }
    )


def upserts(
    seed: int,
    n_base: int,
    n_batches: int,
    n_update: int,
    n_insert: int,
    n_delete: int,
) -> tuple[pa.Table, list[tuple[str, pa.Table]]]:
    """Base table plus ``n_batches`` change batches, alternating
    ``("upsert", rows)`` (``n_update`` existing patients re-valued and
    ``n_insert`` new patients) and ``("delete", rows)`` (the current rows
    of ``n_delete`` live patients). Every batch has unique keys, updates
    and deletes hit live keys only, and inserts use fresh keys."""
    rng = np.random.default_rng([seed, 3])
    base = _arrow(_patient_rows(rng, np.arange(n_base)))
    live = {r["patient_id"]: r for r in base.to_pylist()}
    next_id = n_base
    batches = []
    for b in range(n_batches):
        keys = np.array(sorted(live), dtype=np.int64)
        if b % 2 == 0:
            upd = rng.choice(keys, n_update, replace=False)
            new = np.arange(next_id, next_id + n_insert, dtype=np.int64)
            next_id += n_insert
            tbl = _arrow(_patient_rows(rng, np.concatenate([upd, new])))
            live.update((r["patient_id"], r) for r in tbl.to_pylist())
            batches.append(("upsert", tbl))
        else:
            dele = np.sort(rng.choice(keys, n_delete, replace=False))
            tbl = pa.Table.from_pylist([live.pop(int(k)) for k in dele], schema=base.schema)
            batches.append(("delete", tbl))
    return base, batches


def write_parquet(tbl: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return path
