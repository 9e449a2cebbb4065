"""Runs one workload once per seed and reports, for each metric, the median,
the quartiles, and the quartile spread as a share of the median, beside the
bound BENCHMARK.json fixes for it.

    python3 hbench/spread.py --workload survey_session --seeds 1-10 [--trace 0]

Runs are sequential; each run's final JSON line is printed as it ends.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        print("seed %d: exit %d %s" % (seed, proc.returncode, last), flush=True)
        if proc.returncode == 0:
            for name, m in json.loads(last)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        bound = bounds.get(name)
        print("%-28s median %12.4f  q1 %12.4f  q3 %12.4f  spread %6.3f  bound %s  n=%d"
              % (name, med, q1, q3, stats.spread(xs), bound, len(xs)))


if __name__ == "__main__":
    main()
