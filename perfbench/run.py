"""Forecasting-pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload gbm_intervals --seed 1 --seconds 8 --trace 0

Builds the library and the benchmark (perfbench/build.py) if needed, runs
the workload in one JVM (perfbench.Main), and prints two lines on stdout:
a record of the run (shape, calibration spins, per-call medians, checks),
then the result object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. Exits 1 when an output check failed and 2
when the run could not be made (no result is printed then).

Workload shapes, seeds and accuracy bounds live in perfbench/spec.json.
--size tiny shrinks the panel for the self-tests.
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
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def declared_metrics(trace):
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return bench["per_layer" if trace else "end_to_end"]


def run_jvm(args, shape, classpath, out):
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    # -XX:-UsePerfData and the tmp dirs keep every file the JVM, Spark and
    # Hadoop write inside the checkout; a fixed, pre-touched heap keeps the
    # heap's share of peak RSS constant
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:-UsePerfData",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + tmp, "-Dspark.hadoop.hadoop.tmp.dir=" + tmp]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--series", str(shape["series"]), "--days", str(shape["days"]),
            "--smape-max", str(shape["smape_max"]),
            "--coverage-gap-max", str(shape.get("coverage_gap_80_max", 1.0)),
            "--out", out, "--work", work]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"the benchmark JVM did not finish within {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise RuntimeError(f"the benchmark JVM exited with {code}")
    return load_json(out)


def result(record, trace):
    wanted = declared_metrics(trace)
    values = metrics.layer_metrics(record) if trace else metrics.end_to_end_metrics(record)
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    failures = list(record["check_failures"])
    if missing:
        failures.append("metrics not measured: " + ", ".join(missing))
    out = {
        "correct": not failures,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in wanted},
    }
    return out, failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    try:
        spec = load_json(os.path.join(HERE, "spec.json"))
        if args.workload not in spec["workloads"]:
            raise RuntimeError(f"unknown workload {args.workload!r}")
        shape = dict(spec["workloads"][args.workload])
        if args.size == "tiny":
            shape.update(spec["tiny"])
        declared_metrics(args.trace)  # BENCHMARK.json must be readable
        classpath = build.build()
        os.makedirs(WORK, exist_ok=True)
        out = os.path.join(WORK, f"record-{args.workload}-{args.seed}-{args.trace}.json")
        record = run_jvm(args, shape, classpath, out)
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 2
    res, failures = result(record, args.trace)
    for f in failures:
        print(f"[perfbench] check failed: {f}", file=sys.stderr)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "series": record["series"], "days": record["days"], "cores": record["cores"],
        "calibration": {"spin_start_s": record["spin_start"], "spin_end_s": record["spin_end"]},
        "session_s": record["session_s"], "gen_s": record["gen_s"], "warm_s": record["warm_s"],
        "route_check_s": record["route_check_s"],
        "cycles": len(record["cycles"]), "calls": metrics.call_summary(record),
        "coverage_80": record["coverage_80"], "checks_run": record["checks_run"],
    }
    print(json.dumps({"record": summary}))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
