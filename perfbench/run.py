#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the repository and the
benchmark's JVM driver from source (sbt, through the repository's own build
definition) and caches the classpath under perfbench/.work; later runs reuse
it while the sources are unchanged. Each run then generates its inputs from
the seed, runs the workload in a fresh JVM (Spark local[4]), checks the
outputs, and prints the run record followed, on the last line, by

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics of a
separate traced measurement for --trace 1. Everything it writes stays under
perfbench/.work. Workloads, metrics and the reasons for them are described
in perfbench/README.md and BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

BATCH = "text_geo_batch"
WORKLOADS = ("tile_serving", BATCH)
# scale factor of the batch workload's generated tables
BATCH_SF = 0.01
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

SPEC = os.path.join(ROOT, "BENCHMARK.json")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for path in inputs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} beside perfbench/: run from a full checkout of the repository")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
                text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, deadline, main="graft.perfbench.Main"):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-cp", cp, main] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=None if deadline == float("inf")
                             else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"workload exceeded the run time limit; see {log}", 4)
        finally:
            # also on a timeout or a signal: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"workload failed (exit {code}):\n{tail}", 5)


def check_batch(verify_dir, data_dir, lanes):
    """The lanes' dumped rows against their oracle SQL in DuckDB."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), verify_dir, data_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    out = proc.stdout
    m = re.search(r"== (\d+) ok, (\d+) mismatch, (\d+) error", out)
    rows_only = len(re.findall(r"^ROWS-ONLY \S+: \d+ rows OK$", out, re.M))
    ok = bool(m) and int(m.group(2)) == 0 and int(m.group(3)) == 0 and \
        int(m.group(1)) + rows_only == len(lanes)
    bad = [l for l in out.splitlines() if l.startswith(("MISMATCH", "ERROR", "ROWS-ONLY"))
           and not l.endswith("rows OK")]
    return ok, {"oracle_summary": m.group(0) if m else None, "rows_only": rows_only,
                "problems": bad[:20]}


def main():
    # a terminated run unwinds normally, so the JVM it started is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    if a.workload == BATCH:
        import gen_tables
        gen_tables.write(data_dir, a.seed, BATCH_SF)
    record_path = os.path.join(run_dir, "record.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data_dir, "--work", run_dir,
                 "--record", record_path], run_dir, deadline)
    with open(record_path) as f:
        record = json.load(f)
    res = record["result"]
    if a.workload == BATCH:
        correct, detail = check_batch(res["verify_dir"], data_dir, res["lane_order"])
    else:
        correct, detail = res["correct"], {k: res[k] for k in (
            "checked_tiles", "pixel_mismatched_tiles", "source_checked_tiles",
            "source_mismatched_tiles")}
    # the inputs (an 89 MB COG per tile run) are not kept once checked
    for d in (data_dir, os.path.join(run_dir, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
    setup_s = record["first_op_epoch_ms"] / 1000.0 - start

    with open(SPEC) as f:
        spec = json.load(f)
    if a.trace:
        layers = res.get("layers", {})
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: layers.get(n, 0.0) for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = {n: (setup_s if n == "setup_s" else res.get(n)) for n, _ in names}
    # a metric the run could not measure (no successful operation) is null
    correct = correct and all(v is not None for v in values.values())
    metrics = {n: {"value": values[n], "unit": u} for n, u in names}
    record.update(setup_s=setup_s, check=detail, correct=correct)
    with open(record_path, "w") as f:
        json.dump(record, f)
    summary = {k: v for k, v in res.items()
               if k not in ("spans", "layers", "lane_ms", "latencies_ms")}
    print(json.dumps({"run_record": os.path.relpath(record_path, ROOT),
                      "calibration_s": record["calibration_s"],
                      "calibration_mt_s": record["calibration_mt_s"],
                      "setup_s": setup_s, "check": detail, **summary}))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
