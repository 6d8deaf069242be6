"""The repository benchmark: one command, one JVM, one workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py),
makes the workload's inputs from the seed, runs the harness
(graft.perfbench.Main) for the given time and prints one JSON line:
`correct`, `attempted`, `failed` and the metrics, end-to-end ones with
`--trace 0` and per-layer ones with `--trace 1`. The full measurement,
unit log included, is written to `.bench_build/perfbench-<workload>-trace<t>.json`.

Workloads (see perfbench/README.md):
  kpi_ingest       generated KPI files drained through the four Flows
  corpus_snapshot  memo-backed queries cold, warm and reloaded on fresh snapshots
  query_suite      every other registered query once in a warm session

perfbench/calibrate.py re-derives perfbench/plan.json (workload of each
query, goldens, reference costs).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import kpigen  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
PLAN = os.path.join(HERE, "plan.json")
WORKLOADS = ("kpi_ingest", "corpus_snapshot", "query_suite")
RUN_LIMIT_S = 170  # a run must end within 180 s; leave room to shut down


def java_cmd(classpath, work, *args):
    return (["java"] + build.JVM_FLAGS + ["-Xss8m"] + build.ADD_OPENS +
            [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join(classpath), "graft.perfbench.Main"] + list(args))


def run_jvm(cmd, work, deadline):
    """Run the harness, logging to work/jvm.log; kill it at the deadline."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({code})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classpath = build.build()  # exits non-zero when the engine sources are absent
    built = time.time()

    work = os.path.join(build.OUT, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "kpi_ingest":
            kpigen.generate(a.seed, os.path.join(work, "pool"))
        # the compile, when there is one, is outside the run's time limit
        deadline = built + RUN_LIMIT_S
        run_jvm(java_cmd(classpath, work, "run", work, DATA, PLAN,
                         a.workload, str(a.seed), f"{a.seconds:g}", str(a.trace)),
                work, deadline)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
    finally:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(build.OUT, f"perfbench-{a.workload}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    res["workload"], res["seed"], res["trace"] = a.workload, a.seed, a.trace
    sidecar = os.path.join(build.OUT, f"perfbench-{a.workload}-trace{{}}.json")
    if a.trace:
        # tracing overhead: this run's pass time against the last untraced run's
        overhead = 0.0
        if os.path.exists(sidecar.format(0)):
            with open(sidecar.format(0)) as f:
                base = json.load(f)["end_to_end"]["wall_s"]["value"]
            overhead = res["end_to_end"]["wall_s"]["value"] / base - 1
        res["per_layer"]["trace.overhead_frac"] = {"value": overhead, "unit": "ratio"}
    with open(sidecar.format(a.trace), "w") as f:
        json.dump(res, f, indent=1)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] >= 1,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
