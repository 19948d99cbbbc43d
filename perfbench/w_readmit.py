"""readmit_train: the paper's workflow on a generated admissions table.

One pass is ``plans.full_pipeline.strategy_comparison``: the per-patient
feature table, a stratified split, and L1 logistic regression trained
under base / undersample / oversample / SMOTE / NearMiss, each scored on
the held-out side with the engine's AUC and threshold battery. The result
is collected as a user would. (``run_pipeline``, the random-forest
variant, does not fit the run budget; see README.md.)
"""

from __future__ import annotations

import threading
import time

import duckdb
import numpy as np

import checks
import gen
from tracing import PassWindow, patch, span_totals, spark_totals, stage_sums, trace_record

N_PATIENTS = 2000

#: spans around the public functions the two entry points call, named
#: after the package modules (traced runs only)
LAYER_FUNCS = (
    ("sampling", "balance_undersample", "sampling.undersample"),
    ("sampling", "oversample_with_replacement", "sampling.oversample"),
    ("sampling", "smote", "sampling.smote"),
    ("sampling", "nearmiss", "sampling.nearmiss"),
    ("similarity", "knn_join_broadcast", "similarity.knn"),
)


def stage(spark, seed: int, d) -> dict:
    events = gen.write_parquet(gen.admissions(seed, N_PATIENTS), str(d / "events.parquet"))
    return {"dir": str(d), "events": events}


class Workload:
    known_faults = ("smote_balance",)

    def __init__(self, spark, seed, inputs, work, tracer):
        from pyspark.ml.classification import LogisticRegression

        from predicting_hospital_readmission_using_mimic_database_spark.ml import metrics as ME
        from predicting_hospital_readmission_using_mimic_database_spark.operators import (
            sampling as SA,
        )
        from predicting_hospital_readmission_using_mimic_database_spark.operators import (
            similarity as SI,
        )
        from predicting_hospital_readmission_using_mimic_database_spark.plans import (
            full_pipeline as FP,
        )

        self.spark, self.seed, self.inputs, self.tracer = spark, seed, inputs, tracer
        self.FP = FP
        self._lock = threading.Lock()
        self._reset()
        mods = {"sampling": SA, "similarity": SI}
        # captured outputs for the checks, and fit / evaluation timers:
        # installed in every run (a list append and a clock read per call)
        patch(FP, "user_feature_table", self._keep("feature_table"))
        patch(SA, "stratified_hash_split", self._keep("split", "sampling.split"))
        patch(ME, "auc_with_battery", self._battery)
        patch(LogisticRegression, "_fit", self._fit("models.lr_fit"))
        if tracer.enabled:
            for mod, attr, name in LAYER_FUNCS:
                patch(mods[mod], attr, self._keep(name, name))

    # -- hooks ---------------------------------------------------------------
    def _reset(self):
        self.cap = {"fits": [], "reads": [], "battery": []}
        self.tracer.reset()

    def _keep(self, key, span=None):
        def make(fn):
            def hooked(*a, **kw):
                if span is None:
                    out = fn(*a, **kw)
                else:
                    with self.tracer.span(span):
                        out = fn(*a, **kw)
                with self._lock:
                    self.cap.setdefault(key, []).append(out)
                return out

            return hooked

        return make

    def _fit(self, span):
        def make(fn):
            def hooked(est, dataset):
                t0 = time.perf_counter()
                with self.tracer.span(span):
                    model = fn(est, dataset)
                with self._lock:
                    self.cap["fits"].append(time.perf_counter() - t0)
                return model

            return hooked

        return make

    def _battery(self, fn):
        def hooked(df, score, label, thresh, n_bins=None):
            out = fn(df, score, label, thresh, n_bins)
            collect = out.collect
            entry = {"scored": df, "score": score, "label": label}

            def timed_collect():
                t0 = time.perf_counter()
                with self.tracer.span("metrics.auc_battery"):
                    rows = collect()
                with self._lock:
                    self.cap["reads"].append(time.perf_counter() - t0)
                    entry["row"] = rows[0].asDict()
                    self.cap["battery"].append(entry)
                return rows

            out.collect = timed_collect
            return out

        return hooked

    # -- one pass ------------------------------------------------------------
    def run_pass(self, meter, tally) -> dict:
        self._reset()
        tr = self.tracer
        win = PassWindow(tr) if tr.enabled else None
        d = self.inputs["dir"]
        with meter.segment():
            with tr.span("plans.strategy_comparison"):
                strategies = [r.asDict() for r in
                              self.FP.strategy_comparison(self.spark, d, seed=self.seed).collect()]
        if win:
            win.close()
        rec = {"commit_s": list(self.cap["fits"]), "read_s": list(self.cap["reads"])}
        self._check(strategies, tally)
        if win:
            rec["layers"] = self._layers(win)
        self.spark.catalog.clearCache()
        return rec

    # -- checks ----------------------------------------------------------------
    def _check(self, strategies, tally):
        from predicting_hospital_readmission_using_mimic_database_spark.plans import readmission

        cap = self.cap
        ft = cap["feature_table"][0]
        expected = duckdb.sql(checks.user_table_sql(
            self.inputs["events"], readmission.PLANNED_TYPE,
            self.FP.FREQUENT_READMIT_DAYS, self.FP.EVENT_TYPES)).df()
        program = ft.select(*expected.columns).toPandas()
        tally.run("user_table", checks.user_table, program, expected)
        all_ids = expected["user_id"].tolist()

        (train, test), = cap["split"]
        tr = [(r[0], r[1]) for r in train.select("user_id", "y").collect()]
        te = [(r[0], r[1]) for r in test.select("user_id", "y").collect()]
        tally.run("split", checks.split, tr, te, all_ids)
        n_tr = len(tr)
        n1 = sum(1 for _, v in tr if int(v) == 1)
        n_min, n_max = min(n1, n_tr - n1), max(n1, n_tr - n1)
        by = {r["strategy"]: r for r in strategies}
        tally.run("base_size", lambda: checks.require(
            by["base"]["n_train"] == n_tr, f"base trains on {by['base']['n_train']} of {n_tr}"))
        tally.run("undersample_balance", checks.one_to_one, by["undersample"]["n_train"], n_min, "undersample")
        tally.run("oversample_balance", checks.oversample_poisson, by["oversample"]["n_train"], n_max, n_min)
        tally.run("smote_balance", checks.one_to_one, by["smote"]["n_train"], n_max, "smote")
        tally.run("nearmiss_balance", checks.one_to_one, by["nearmiss"]["n_train"], n_min, "nearmiss")

        # AUC and battery of every scored model, from its (score, label) pairs
        battery = cap["battery"]
        for i, e in enumerate(battery):
            pairs = np.array(e["scored"].select(e["score"], e["label"]).collect(), dtype=float)
            tally.run(f"auc_battery_{i}", checks.auc_battery, e["row"], pairs[:, 0], pairs[:, 1],
                      len(te))
        keys = ("roc_auc", "accuracy", "recall", "precision", "f1")
        reported = [tuple(r[k if k != "roc_auc" else "auc"] for k in keys) for r in strategies]
        computed = [tuple(e["row"][k] for k in keys) for e in battery]
        tally.run("reported_rows", checks.rows_match, reported, computed)

    # -- traced layers -----------------------------------------------------------
    def _layers(self, win) -> dict:
        tr = self.tracer
        probes = [("plans.feature_table", self.cap["feature_table"][0])]
        probes += [("sampling.split", df) for pair in self.cap["split"] for df in pair]
        for _mod, _attr, name in LAYER_FUNCS:
            probes += [(name, df) for df in self.cap.get(name, [])]
        # a lazily returned frame costs nothing until an action forces it:
        # force each one alone into a no-op sink, tagged with its layer
        for name, df in probes:
            with tr.span(name + ".force"):
                df.write.format("noop").mode("overwrite").save()
        jobs = tr.jobs_after(win.job0)
        self.trace = trace_record(tr, win, jobs)
        out = spark_totals(tr, win, jobs)

        def seconds(name):
            return (span_totals(tr, jobs, name)["wall_s"]
                    + span_totals(tr, jobs, name + ".force")["wall_s"])

        out["plans.feature_table_s"] = seconds("plans.feature_table")
        ft = span_totals(tr, jobs, "plans.feature_table.force")
        out["plans.feature_table_shuffle_mb"] = stage_sums(ft["jobs"])["shuffle_write_mb"]
        for key, name in (("sampling.split_s", "sampling.split"),
                          ("sampling.undersample_s", "sampling.undersample"),
                          ("sampling.oversample_s", "sampling.oversample"),
                          ("sampling.smote_s", "sampling.smote"),
                          ("sampling.nearmiss_s", "sampling.nearmiss"),
                          ("similarity.knn_s", "similarity.knn"),
                          ("metrics.auc_battery_s", "metrics.auc_battery")):
            out[key] = seconds(name)
        s = span_totals(tr, jobs, "models.lr_fit")
        out["models.lr_fit_s"] = s["wall_s"] / max(1, s["calls"])
        out["models.lr_jobs_per_fit"] = len(s["jobs"]) / max(1, s["calls"])
        out["trace.overhead_s"] = tr.overhead_s
        return out
