"""Re-derive perfbench/plan.json: which workload each registered query
belongs to, its row-count and hash goldens, and its reference costs.

Runs two calibration passes of the harness (`graft.perfbench.Main
calibrate`); a golden hash is kept only where both passes agree, and the
reference costs are the mean of the two. Run it after a change to the
registered queries or their results:

  python3 perfbench/calibrate.py
"""

import json
import os
import shutil
import time

import build
from run import DATA, PLAN, java_cmd, run_jvm


def calibrate(classpath):
    passes = []
    for i in range(2):
        work = os.path.join(build.OUT, f"calibrate-{i}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "plan.json")
        run_jvm(java_cmd(classpath, work, "calibrate", work, DATA, out), work,
                time.time() + 3600)
        with open(out) as f:
            passes.append(json.load(f)["queries"])
    plan = {}
    for q, first in sorted(passes[0].items()):
        second = passes[1][q]
        entry = dict(first)
        if first["hash"] != second["hash"] or first["rows"] != second["rows"]:
            entry["hash"] = None
        if first["workload"] != second["workload"]:
            raise SystemExit(f"{q}: workload differs between passes")
        entry["ref"] = {k: round((v + second["ref"][k]) / 2, 4)
                        for k, v in first["ref"].items()}
        plan[q] = entry
    with open(PLAN, "w") as f:
        json.dump({"data": os.path.relpath(DATA, build.ROOT), "queries": plan}, f,
                  indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    calibrate(build.build())
