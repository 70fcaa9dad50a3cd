#!/usr/bin/env python3
"""Writes perfbench/transition_count_vs_materialized.json.

    python3 perfbench/transition.py

For each of 30 batch lanes (Batch.RasterGeo and Batch.TextPipeline) it
records the seconds of `count()` (the action the repository's older bench
timed) beside the seconds of the materializing `noop` write the benchmark
times now, on tables generated at scale factor 0.1 (the scale of
BENCH_LAST.json) from seed 1. When BENCH_LAST.json is present at the
repository root, its per-lane counted seconds are copied beside them, so the
change of method stays readable next to that record. Runs from the
repository root, like run.py.
"""
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
import gen_tables  # noqa: E402
import run  # noqa: E402

OUT = os.path.join(run.BENCH, "transition_count_vs_materialized.json")
SF = 0.1
SEED = 1


def main():
    cp = run.classpath()
    work = os.path.join(run.WORK, "transition")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen_tables.write(data, SEED, SF)
    raw = os.path.join(work, "transition.json")
    run.run_jvm(cp, [data, work, raw], work, deadline=float("inf"),
                main="graft.perfbench.Transition")
    with open(raw) as f:
        rec = json.load(f)
    last = os.path.join(run.ROOT, "BENCH_LAST.json")
    if os.path.exists(last):
        with open(last) as f:
            old = json.load(f)
        for lane, row in rec["lanes"].items():
            row["bench_last_count_s"] = old.get("queries", {}).get(lane)
        rec["bench_last"] = {"sf_dir": os.path.basename(str(old.get("sf"))),
                             "calibration_s": old.get("calibration"),
                             "calibration_mt_s": old.get("calibration_mt")}
    rec.update({"sf": SF, "seed": SEED, "cores": 4,
                "tables": "perfbench/gen_tables.py at this sf and seed"})
    with open(OUT, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    print(OUT)


if __name__ == "__main__":
    main()
