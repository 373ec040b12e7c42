"""graft benchmark: one closed-loop workload, one client, one process.

    python3 perfbench/run.py --workload extract|search \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source (perfbench/build.py), runs the
workload on a local Spark session with one executor thread per core,
checks every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Inputs, outputs and Spark scratch stay under
.bench_build/ in the checkout; span and run records are kept under
.bench_build/records/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 165
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fs_type(path):
    """Filesystem type of the mount holding `path`."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build.BUILD, "runs", f"{tag}-{os.getpid()}")
    records = os.path.join(build.BUILD, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    out_file = os.path.join(records, f"{tag}.json")
    spans_file = os.path.join(records, f"{tag}.spans.jsonl")
    log_file = os.path.join(records, f"{tag}.log")
    for f in (out_file, spans_file):
        if os.path.exists(f):
            os.remove(f)

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", out_file, "--spans", spans_file]
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"), SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out_file):
        with open(log_file, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {code} after {time.time() - t0:.1f}s (log: {log_file})")

    with open(out_file) as fh:
        record = json.load(fh)
    with open(spans_file) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]

    if a.trace:
        values = stats.per_layer(record, spans)
        declared = spec["per_layer"]
        notes = {}
    else:
        values, notes = stats.end_to_end(record)
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    correct = not record["check_failures"] and record["failed"] == 0 and record["checks_passed"] > 0
    env_note = dict(record["env"], fs=fs_type(work), nproc=os.cpu_count(),
                    checks_passed=record["checks_passed"], check_failures=record["check_failures"][:5])
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, **notes, "env": env_note}))
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
