"""Benchmark of the readmission engine: two workloads on seeded inputs.

    python3 perfbench/run.py --workload readmit_train --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, a table on stderr

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` (checks of the program's
outputs, one operation per check) and ``metrics`` (the end-to-end metrics
untraced, the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "predicting_hospital_readmission_using_mimic_database_spark"
WORKLOADS = {"readmit_train": "w_readmit", "admissions_upsert": "w_upsert"}
#: input staging is repeated this many times during set-up; setup_s
#: reports the session start plus the median staging time
SETUP_REPEATS = 3


def _units() -> dict:
    """metric name -> unit, for every metric BENCHMARK.json declares."""
    with open(ROOT / "BENCHMARK.json") as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def _env(work: Path) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into ``work`` and size the local master to the machine."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # no JVM (spark-submit's launcher, the driver) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the status store must still hold a whole pass when it is read
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR


def _write_trace(name: str, seed: int, values: dict, record: dict) -> None:
    """Keep the traced run's spans and call-site groups beside its metrics
    (``.perfbench_out/``), and show the heaviest call sites on stderr."""
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    with open(out / f"{name}-seed{seed}-trace.json", "w") as f:
        json.dump({"metrics": values, **record}, f, indent=1)
    print(f"[perfbench] jobs by call site ({name}, last pass):", file=sys.stderr)
    for row in record["call_sites"][:12]:
        print(f"  {row['wall_s']:8.2f}s {row['jobs']:4d} jobs  {row['call_site']}", file=sys.stderr)


def run_workload(name: str, seed: int, trace: bool) -> dict:
    if importlib.util.find_spec(PACKAGE) is None:
        raise SystemExit(f"perfbench: package {PACKAGE} not found under {ROOT}")
    work = ROOT / ".perfbench_work" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(work)
    mod = importlib.import_module(WORKLOADS[name])
    from checks import Tally
    from tracing import Meter, Tracer, layer_values, tree_peak_rss_mb

    spark = None
    try:
        # set-up: session start, median of the repeated input staging, and
        # the workload's one-time staging (tables, hooks)
        t0 = time.perf_counter()
        from predicting_hospital_readmission_using_mimic_database_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{name}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        stage_s = []
        for i in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            inputs = mod.stage(spark, seed, work / f"inputs{i}")
            stage_s.append(time.perf_counter() - t1)
        tracer = Tracer(spark, trace)
        t2 = time.perf_counter()
        w = mod.Workload(spark, seed, inputs, work, tracer)
        init_s = time.perf_counter() - t2
        setup_s = session_s + statistics.median(stage_s) + init_s
        meter = Meter()
        tally = Tally()
        # one whole pass: a cold pass of either workload outlasts the run
        # length, and a second (warm) pass would not fit the run budget
        rec = w.run_pass(meter, tally)
        pass_s, cpu_s = meter.take()
        hwm = tree_peak_rss_mb()
        if trace:
            values = layer_values(rec["layers"], pass_s)
            _write_trace(name, seed, values, w.trace)
        else:
            values = {
                "setup_s": setup_s,
                "pass_s_p50": pass_s,
                "cpu_s_per_pass": cpu_s,
                "peak_rss_mb": sum(hwm.values()),
                "commit_s_p50": statistics.median(rec["commit_s"]),
                "changes_read_s_p50": statistics.median(rec["read_s"]),
            }
        print(
            f"[perfbench] {name} seed={seed} trace={int(trace)} pass_s={pass_s:.3f} "
            f"session={session_s:.2f}s staging={[round(s, 2) for s in stage_s]} "
            f"init={init_s:.2f}s run={time.perf_counter() - t0:.1f}s "
            f"commit_s={[round(x, 2) for x in rec['commit_s']]} "
            f"read_s={[round(x, 2) for x in rec['read_s']]} "
            f"hwm_mb={sorted(round(v) for v in hwm.values())}",
            file=sys.stderr,
        )
        units = _units()
        return {
            "correct": set(tally.failures) <= set(w.known_faults),
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin closes, and stopping the context ends the Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_all(seed: int, trace: bool) -> int:
    """Every workload in its own process; a table of each end-to-end (or
    per-layer) metric by name and unit, and each run's check counts."""
    units = _units()
    results = {}
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(seed),
             "--trace", str(int(trace))],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False,
        )
        if out.returncode != 0:
            print(f"{name}: exit code {out.returncode}", file=sys.stderr)
            return out.returncode
        results[name] = json.loads(out.stdout.strip().splitlines()[-1])
    for name, r in results.items():
        print(f"\n{name}: attempted={r['attempted']} failed={r['failed']} correct={r['correct']}",
              file=sys.stderr)
        for k, v in r["metrics"].items():
            print(f"  {k:<34} {v['value']:>14.4f} {units[k]}", file=sys.stderr)
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, help="run length; accepted, but every run makes "
                    "exactly one whole pass, which takes longer (README.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    if a.workload == "all":
        return run_all(a.seed, bool(a.trace))
    result = run_workload(a.workload, a.seed, bool(a.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
