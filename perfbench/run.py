#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload typed_tpch --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark if needed (see build.py), runs the
workload in one fresh JVM over the sf0.01 test tables, checks every step's
output against expected.json, and prints the metrics as one JSON object
on the last line of stdout: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Raw samples, the spans of a traced run
and a summary go to <build_dir>/runs/. Exits non-zero, printing no
result, if anything needed is missing or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.01")
HEAP = "2g"  # -Xms = -Xmx: a growing heap drifts pass times for the whole run
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(root, build_dir, classes, args, out_prefix):
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join([classes, os.path.join(root, "src/main/resources"),
                   os.path.join(build.SPARK_JARS, "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:MetaspaceSize=512m", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), DATA, out_prefix])
    try:
        with open(out_prefix + ".log", "w") as log:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                           timeout=JVM_TIMEOUT_S, cwd=tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's fingerprints in expected.json (on a known-good commit)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(DATA):
        sys.exit(f"input tables not found: {DATA}")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build_dir = os.path.join(build_dir, "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)

    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    prefix = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    run_jvm(root, build_dir, classes, args, prefix)
    with open(prefix + ".raw.json") as f:
        raw = json.load(f)

    expected_path = os.path.join(HERE, "expected.json")
    with open(expected_path) as f:
        expected_all = json.load(f)
    if args.record:
        expected_all[args.workload] = raw["fingerprints"]
        with open(expected_path, "w") as f:
            json.dump(expected_all, f, indent=1, sort_keys=True)
            f.write("\n")
    attempted, failed, bad_fp = metrics.check_outputs(raw, expected_all[args.workload])

    summary = {
        "context": raw["context"],
        "warmup_pass_s": [p["elapsed_s"] for p in raw["warmup"]],
        "timed_pass_s": [p["elapsed_s"] for p in raw["passes"]],
        "settle": metrics.settle(raw["passes"]),
        "tail_percentile": metrics.tail_percentile(raw),
        "tail_samples": len(metrics.samples(raw["passes"])),
        "failed_samples": failed,
        "fingerprint_mismatches": bad_fp,
    }
    if args.trace:
        with open(prefix + ".spans.json") as f:
            spans = json.load(f)
        values, repeat = metrics.per_layer(raw, spans)
        summary["counts_repeat_across_traced_passes"] = repeat
        units = {m["name"]: m["unit"] for m in bench_spec(root)["per_layer"]}
    else:
        values = metrics.end_to_end(raw)
        units = {m["name"]: m["unit"] for m in bench_spec(root)["end_to_end"]}
    summary["metrics"] = values
    with open(prefix + ".summary.json", "w") as f:
        json.dump(summary, f, indent=1)

    for k in ("warmup_pass_s", "timed_pass_s", "settle", "tail_percentile", "tail_samples"):
        print(f"{k}: {json.dumps(summary[k])}")
    for e in failed[:5]:
        print(f"failed: {json.dumps(e)}")
    result = {
        "correct": not failed and not bad_fp,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values},
    }
    print(json.dumps(result))


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()
