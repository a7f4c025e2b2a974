"""The repository's benchmark: one command per run, from the repository root.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 8 --trace 0

Builds the program (build.py), runs the workload in a fresh JVM, checks
every output, and prints the run record and then, as the last line, the
result: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics; `--trace 1` runs the workload with spans and Spark
counters and reports the per-layer metrics. Workloads and metrics are
described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build
import metrics
import spans as spanlib

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 172

# the module opens Spark needs on JDK 17 outside spark-submit, and the
# collector the repository's build uses
JVM_FLAGS = [f for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-XX:+UseParallelGC", "-Xmx3g", "-Dspark.ui.enabled=false"]


def source_version(root):
    """The git commit when the checkout is a repository, else a digest of
    the program and benchmark sources."""
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if r.returncode == 0:
            return {"git_commit": r.stdout.strip()}
    return {"source_sha1": build.source_digest(build.sources(root))}


def run_jvm(root, classes, args, out):
    os.makedirs(os.path.join(out, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--data", os.path.join(HERE, "data")]
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: workload did not finish in {JVM_TIMEOUT_S} s (see {log})")
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "record.json")):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: workload failed (see {log})")
    with open(os.path.join(out, "record.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)

    out = os.path.join(build.build_dir(root), "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    rec = run_jvm(root, classes, args, out)
    wall = time.time() - t0
    try:
        correct, attempted, failed, detail = metrics.verify(rec, out, os.path.join(HERE, "data"))
        if args.trace:
            values = metrics.per_layer(rec)
            units = {n: u for n, u, _, _ in metrics.PER_LAYER}
            with open(os.path.join(out, "spans.jsonl"), "w") as fh:
                for s in rec["spans"]:
                    fh.write(json.dumps(s) + "\n")
        else:
            values = metrics.end_to_end(rec)
            units = {n: u for n, u, _, _ in metrics.END_TO_END}
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": rec["nproc"], **source_version(root), "spark_conf": rec["spark_conf"],
            "jvm_flags": rec["jvm_flags"], "inputs": rec["inputs"], "run_wall_s": wall,
            "checks": {k: v for k, v in detail.items() if k != "reads"},
        }
        if args.trace:
            record["layers"] = [{"name": n, "value": values[n], "unit": u, "moves": mv, "on": on}
                                for n, u, mv, on in metrics.PER_LAYER]
            record["self_s_by_layer"] = spanlib.self_by_layer(rec["spans"])
        else:
            record["named"] = metrics.named(rec, values, detail)
        with open(os.path.join(out, "run.json"), "w") as fh:
            json.dump(record, fh, indent=1)
        print(json.dumps(record))
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                          "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}))
    finally:
        # keep the record, the run summary and the spans; drop the tables
        for name in os.listdir(out):
            p = os.path.join(out, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    main()
