#!/usr/bin/env python3
"""Writes perfbench/expected.json: the outputs each workload gives for
seeds 0 to 31, which every benchmark run on one of those seeds must
repeat.

    python3 perfbench/pin.py

Run it only when a workload's inputs or the engine's results are meant to
change; a change that only makes the engine faster leaves every pinned
value as it is. Each value is recorded only after the iteration has also
passed the workload's numpy cross-checks.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys

import run

SEEDS = range(32)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    workdir = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    run.spark_environment(workdir, trace=False)
    import workloads
    from rasters_rs_spark.session import get_spark

    cores = run.usable_cores()
    spark = get_spark("perfbench-pin", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    expected = {}
    try:
        for name, cls in workloads.WORKLOADS.items():
            expected[name] = {}
            for seed in SEEDS:
                wl = cls()
                wl.setup(spark, seed, cores, workdir)
                wl.prepare_checks(spark)
                out = wl.run(spark, lambda call, phase:
                             contextlib.nullcontext())
                errs = wl.check(out)
                if errs:
                    print(f"{name} seed {seed}: {errs}", file=sys.stderr)
                    return 1
                expected[name][str(seed)] = wl.expected
                wl.release()
                print(f"{name} seed {seed}: {wl.expected}", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(workdir))
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
