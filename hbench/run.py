"""Entry point of the HBSIR benchmark.

    python3 hbench/run.py --workload survey_session --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark if needed (see build.py), runs one
workload in a fresh JVM for `--seconds` seconds, checks every op's output,
and prints each metric by name with its unit and sample count. The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). Exits 1 when any op failed or its output check did not
match, 2 on a usage or build error.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("survey_session", "near_dup_batch")
JAVA_TIMEOUT_S = 170

# what Spark 4 needs opened on JDK 17 when started outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_java(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap and the parallel collector: with G1's concurrent threads
    # competing for the four cores, op latency varied ~15% between JVMs
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS]
           + ["-cp", classpath, "hbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("benchmark JVM did not finish in %d s" % JAVA_TIMEOUT_S)
    raw = [l for l in out.splitlines() if l.startswith("HBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        raise RuntimeError("benchmark JVM exited with %d" % proc.returncode)
    return json.loads(raw[-1][len("HBENCH_RAW "):])


def report(raw, args):
    """Print the summary and return the result object."""
    attempted, failed, errors = stats.failures(raw)
    inputs = " ".join("%s=%s" % kv for kv in sorted(raw["inputs"].items()))
    print("hbench %s seed=%d trace=%d cores=%d %s"
          % (args.workload, args.seed, args.trace, raw["cores"], inputs))
    for e in errors:
        print("FAILED " + e)
    print("%-28s %14.6f   failed=%d attempted=%d"
          % ("op_fail_share", failed / attempted if attempted else 0.0, failed, attempted))
    kinds = {}
    for c in raw["cycles"]:
        for op in c["ops"]:
            kinds.setdefault(op["kind"], []).append(op["s"])
    for kind, xs in kinds.items():
        print("%-28s %14.6f s n=%d" % ("op." + kind + "_p50_s", stats.median(xs), len(xs)))

    metrics = {}
    if args.trace:
        for name, value in stats.per_layer(raw).items():
            unit = stats.unit_of(name)
            metrics[name] = {"value": value, "unit": unit}
            print("%-28s %14.6f %s" % (name, value, unit))
    else:
        for name, (value, unit, n, note) in stats.end_to_end(raw).items():
            metrics[name] = {"value": value, "unit": unit}
            print("%-28s %14.6f %s n=%d (%s)" % (name, value, unit, n, note))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("[hbench] build failed: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(build.build_dir(), "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_java(classpath, args, work)
    except RuntimeError as e:
        print("[hbench] %s" % e, file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # the traced run's spans and counters, kept for later analysis
        path = os.path.join(build.build_dir(), "traces", "%s-%d.json" % (args.workload, args.seed))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(raw, f)
        print("trace written to " + os.path.relpath(path))
    result = report(raw, args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
