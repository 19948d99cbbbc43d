"""Output checks. Each check compares a program output with a computation
made here (numpy, DuckDB SQL over the same parquet, a replay of the
generated batches) or with a property the method must have; none compares
with an earlier output of the program. A check raises :class:`CheckFailed`.
"""

from __future__ import annotations

import math
import sys

import numpy as np


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Tally:
    """Counts attempted and failed checks; one check is one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}

    def run(self, name: str, fn, *args, **kw) -> bool:
        self.attempted += 1
        try:
            fn(*args, **kw)
            return True
        except CheckFailed as e:
            self.failed += 1
            self.failures.setdefault(name, str(e))
            print(f"[perfbench] check failed: {name}: {e}", file=sys.stderr)
            return False


def _missing(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _close(a, b, tol: float) -> bool:
    """Equal within ``tol``; an undefined metric (NULL / NaN, e.g. the
    precision of a model that predicts no positives) equals only itself."""
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    return abs(float(a) - float(b)) <= tol


# ---------------------------------------------------------------------------
# readmit_train
# ---------------------------------------------------------------------------


def user_table_sql(events_path: str, planned: str, threshold: float, types) -> str:
    """DuckDB reference for the per-patient modeling table: label from the
    next-unplanned-admission gap, event counts, tenure and value stats."""
    per_type = ",\n".join(
        f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in types
    )
    return f"""
    WITH w AS (
      SELECT event_id, user_id, ts, event_type, value,
             lead(ts) OVER o AS nts, lead(event_type) OVER o AS ntype
      FROM read_parquet('{events_path}')
      WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), x AS (
      SELECT *, CASE WHEN ntype = '{planned}' THEN NULL ELSE nts END AS nts2 FROM w
    ), y AS (
      SELECT *, first_value(nts2 IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
        ) AS nu
      FROM x
    )
    SELECT user_id,
           coalesce(CAST(avg((epoch_us(nu) - epoch_us(ts)) / 86400e6) < {threshold} AS INTEGER), 0) AS label,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) / 86400e6 AS tenure_days,
           avg(value) AS avg_value,
           max(value) AS max_value,
           {per_type}
    FROM y GROUP BY user_id ORDER BY user_id
    """


def user_table(program, expected) -> None:
    """Per patient: label and counts exact, tenure and value stats to
    1e-6 (the program rounds value stats to 6 places)."""
    require(len(program) == len(expected), f"{len(program)} patients vs {len(expected)} expected")
    p = program.sort_values("user_id").reset_index(drop=True)
    e = expected.sort_values("user_id").reset_index(drop=True)
    require((p["user_id"].to_numpy() == e["user_id"].to_numpy()).all(), "patient ids differ")
    for c in e.columns:
        if c == "user_id":
            continue
        a, b = p[c].to_numpy(dtype=float), e[c].to_numpy(dtype=float)
        tol = 0.0 if c == "label" or c.startswith("n_") else 1e-6
        bad = np.flatnonzero(np.abs(a - b) > tol)
        require(bad.size == 0, f"column {c}: {bad.size} patients differ, e.g. user "
                f"{int(e['user_id'][bad[0]]) if bad.size else -1}")


def split(train, test, all_ids) -> None:
    """train/test are (user_id, label) pairs: disjoint sides that cover
    every patient, each side holding both classes."""
    tr = {int(u) for u, _ in train}
    te = {int(u) for u, _ in test}
    require(len(tr) == len(train) and len(te) == len(test), "duplicate patients within a side")
    require(not (tr & te), f"{len(tr & te)} patients on both sides")
    require(tr | te == set(int(u) for u in all_ids), "sides do not cover every patient")
    require({int(y) for _, y in train} == {0, 1}, "train side lacks a class")
    require({int(y) for _, y in test} == {0, 1}, "test side lacks a class")


def one_to_one(n_out: int, n_class: int, what: str) -> None:
    """A 1:1 resample of two classes to ``n_class`` rows each."""
    require(n_out == 2 * n_class, f"{what}: {n_out} rows, 1:1 at {n_class} per class needs {2 * n_class}")


def oversample_poisson(n_out: int, n_max: int, n_min: int) -> None:
    """Random oversampling with a Poisson draw per minority row adds
    Poisson(n_max - n_min) rows: 1:1 in expectation, within 5 sd."""
    deficit = n_max - n_min
    tol = 5.0 * math.sqrt(max(deficit, 1))
    require(abs(n_out - 2 * n_max) <= tol, f"oversample: {n_out} rows vs 2x{n_max} +- {tol:.0f}")


def _avg_ranks(x: np.ndarray) -> np.ndarray:
    uniq, inv, counts = np.unique(x, return_inverse=True, return_counts=True)
    ends = np.cumsum(counts)
    return ((ends - counts + 1 + ends) / 2.0)[inv]


def battery(scores, labels, thresh: float = 0.5) -> dict:
    """ROC-AUC (ties averaged) and the threshold battery, in numpy."""
    s = np.asarray(scores, dtype=float)
    y = np.asarray(labels, dtype=float) == 1
    n_pos, n_neg = int(y.sum()), int((~y).sum())
    auc = None
    if n_pos and n_neg:
        r = _avg_ranks(s)
        auc = (r[y].sum() - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    pred = s > thresh
    tp, fp = int((pred & y).sum()), int((pred & ~y).sum())
    fn, tn = int((~pred & y).sum()), int((~pred & ~y).sum())
    n = tp + fp + fn + tn

    def div(a, b):
        return a / b if b else None

    return {
        "roc_auc": auc, "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "accuracy": div(tp + tn, n), "recall": div(tp, tp + fn),
        "precision": div(tp, tp + fp), "specificity": div(tn, tn + fp),
        "prevalence": div(tp + fn, n), "f1": div(2 * tp, 2 * tp + fp + fn),
    }


BATTERY_KEYS = ("roc_auc", "accuracy", "recall", "precision", "specificity", "prevalence", "f1")


def auc_battery(program: dict, scores, labels, n_test: int) -> None:
    """Program AUC and battery equal the numpy recomputation from the
    collected (score, label) pairs to 1e-6; the cells sum to n_test."""
    ref = battery(scores, labels)
    for k in ("tp", "fp", "fn", "tn"):
        require(int(program[k]) == ref[k], f"{k}: {program[k]} vs {ref[k]}")
    cells = sum(int(program[k]) for k in ("tp", "fp", "fn", "tn"))
    require(cells == n_test, f"confusion cells sum to {cells}, n_test is {n_test}")
    for k in BATTERY_KEYS:
        require(_close(program.get(k), ref[k], 1e-6), f"{k}: {program.get(k)} vs {ref[k]}")


def rows_match(reported: list[tuple], computed: list[tuple]) -> None:
    """The rows an entry point reported are, as a multiset, the metric rows
    of the models it scored (strategies may tie, so no order is assumed)."""
    require(len(reported) == len(computed), f"{len(reported)} rows vs {len(computed)}")
    left = list(computed)
    for r in reported:
        hit = next((i for i, c in enumerate(left)
                    if all(_close(a, b, 1e-6) for a, b in zip(r, c))), None)
        require(hit is not None, f"reported row {r} matches no scored model")
        left.pop(hit)


# ---------------------------------------------------------------------------
# admissions_upsert
# ---------------------------------------------------------------------------


def rows_of(df, cols) -> dict:
    """pandas frame -> {key: row tuple} keyed on the first column."""
    return {r[0]: tuple(r) for r in df[list(cols)].itertuples(index=False, name=None)}


def snapshot(program: dict, expected: dict) -> None:
    """A format's snapshot equals the replay of the batches."""
    require(len(program) == len(expected), f"{len(program)} rows vs {len(expected)} replayed")
    diff = [k for k, v in expected.items() if program.get(k) != v]
    require(not diff, f"{len(diff)} rows differ from the replay, e.g. key {diff[:1]}")


def feed_nets(before: dict, after: dict, deleted: set, upserted: dict) -> None:
    """Applying the commit's change feed (keys it deletes, rows it
    inserts) to the previous snapshot gives the new snapshot."""
    state = {k: v for k, v in before.items() if k not in deleted}
    state.update(upserted)
    gone = [k for k in after if state.get(k) != after[k]]
    extra = [k for k in state if k not in after]
    require(not gone and not extra,
            f"feed does not net to the snapshot diff: {len(gone)} rows wrong, {len(extra)} extra")


def one_version(before: int, after: int, what: str) -> None:
    require(after == before + 1, f"{what}: {after - before} versions added by one commit")
