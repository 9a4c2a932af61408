#!/usr/bin/env python3
"""Benchmark for the rasters_rs_spark engine.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S \
        --trace <0|1>

One workload per run: a closed loop with one client (this process) that
runs one job at a time on local[<usable cores>]. The run starts a Spark
session, makes the workload's inputs from the seed, warms up with
untimed iterations, then repeats iterations for ``--seconds`` seconds,
checking every iteration's outputs (against the values ``expected.json``
pins for the seed, see ``pin.py``). ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` turns on Spark's event log and
reports its per-layer metrics instead. ``--workload all`` runs every
workload untraced and then traced, each in its own process, and prints
both tables and the tracing overhead. The last line of standard output
is always one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEMORY = "3g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def p90(values):
    return statistics.quantiles(values, n=10)[-1] if len(values) > 1 \
        else values[0]


def spark_environment(workdir: str, trace: bool) -> None:
    """Everything the session needs from outside the package: a driver
    heap that fits this host, workers that can import the package, scratch
    space inside the checkout, no console progress bar and, when tracing,
    the event log. All of it is fixed before the JVM starts."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} "
             "-XX:-UsePerfData",
             "pyspark-shell"]
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it; the
    JVM's Python workers exit with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Spans:
    """Build/execute spans around each public call, kept in memory. Each
    span runs its jobs under its own Spark job group, which is how the
    event log attributes jobs, stages and tasks to calls."""

    def __init__(self, sc):
        self.sc = sc
        self.iteration = 0
        self.spans = []

    @contextmanager
    def __call__(self, call: str, phase: str):
        group = f"perfbench|{self.iteration}|{call}|{phase}"
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((self.iteration, call, phase, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    sys.path.insert(0, ROOT)
    spec = load_spec()
    workdir = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    spark_environment(workdir, trace)
    try:
        return _run(spec, name, seed, seconds, trace, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run still uses it


def _run(spec, name, seed, seconds, trace, workdir) -> int:
    import host
    import workloads
    from rasters_rs_spark.session import get_spark

    if name not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of "
              f"{sorted(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    cores = usable_cores()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[name].get(str(seed))
    wl = workloads.WORKLOADS[name](expected)
    calib_before = host.calibrate_ms(cores)
    attempted = failed = 0
    walls, peaks, outs = [], [], []
    rows_out = {}  # timed iteration -> call -> rows the call returned

    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            # start the Python workers, so that every input set-up below
            # costs the same
            spark.range(0, 4 * cores, 1, cores).mapInPandas(
                lambda it: it, "id long").count()
            session_s = time.perf_counter() - t0
            input_s = []
            for i in range(SETUP_REPEATS):
                if i:
                    wl.release()
                t0 = time.perf_counter()
                wl.setup(spark, seed, cores, workdir)
                input_s.append(time.perf_counter() - t0)
            wl.prepare_checks(spark)
            spans = Spans(spark.sparkContext)

            def attempt(fn):
                """Run ``fn() -> (value, check errors)`` as one attempt;
                an exception or a failed check counts as a failure."""
                nonlocal attempted, failed
                attempted += 1
                try:
                    value, errs = fn()
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    return None
                for e in errs:
                    print(f"check failed: {e}", file=sys.stderr)
                failed += bool(errs)
                return value

            def iteration():
                spans.iteration += 1
                rss.take_peak()
                t0 = time.perf_counter()
                out = wl.run(spark, spans)
                wall = time.perf_counter() - t0
                return (wall, rss.take_peak(), out), wl.check(out)

            # untimed iterations: the first runs about twice as long as
            # later ones (JIT, Python workers, plan caches); later ones
            # still speed up a little, so every run times the same window
            t0 = time.perf_counter()
            for _ in range(wl.WARMUP):
                attempt(iteration)
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(input_s) + warm_s
            spans.spans.clear()
            deadline = time.perf_counter() + seconds
            while True:
                r = attempt(iteration)
                if r is not None:
                    walls.append(r[0])
                    peaks.append(r[1])
                    outs.append(r[2])
                    rows_out[spans.iteration] = r[2]["rows_out"]
                if time.perf_counter() >= deadline:
                    break
        finally:
            stop_spark(spark)
    calib_after = host.calibrate_ms(cores)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"perfbench {name}: {wl.n_items} {wl.items}, seed {seed}, "
          f"local[{cores}], closed loop, "
          f"1 client, {len(walls)} timed iterations in {seconds:g} s"
          f"{', traced' if trace else ''}")
    print("iteration walls (s): " + " ".join(f"{w:.3f}" for w in walls))
    moved = abs(calib_after - calib_before) / calib_before
    flag = "CONTENDED" if moved > (bounds.get("wall_s") or 0.1) else "ok"
    print(f"contention sentinel: {calib_before:.1f} ms before, "
          f"{calib_after:.1f} ms after, moved {100 * moved:.1f}% -> {flag}")
    print(f"output checks: {attempted - failed}/{attempted} passed; "
          f"fail_rate {failed / attempted:.3f} (bound 0: any failure "
          f"fails the run); outputs "
          + ("pinned for this seed in expected.json" if expected else
             "not pinned for this seed: checked against the first "
             "iteration"))
    if not walls:
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1

    wall = statistics.median(walls)
    peak_mb = [p / 2**20 for p in peaks]
    if not trace:
        values = {
            "setup_s": [setup_s],
            "wall_s": walls,
            "throughput": [wl.n_items / w for w in walls],
        }
        metrics = {}
        print(f"{'metric':<14}{'median':>12} {'unit':<9}{'n':>4}"
              f"{'q1':>12}{'q3':>12}{'p90 (info)':>12}{'bound':>8}")
        rows = [(m["name"], m["unit"], values[m["name"]], f"{m['bound']:.2f}")
                for m in spec["end_to_end"]]
        # RSS does not repeat within a tenth between runs: reported, and
        # a per-layer metric of the traced run, but not bounded
        rows.append(("peak_rss_mb", "MB", peak_mb, "none"))
        for name, unit, samples, bound in rows:
            v = statistics.median(samples)
            q1, q3 = quartiles(samples)
            print(f"{name:<14}{v:>12.4f} {unit:<9}{len(samples):>4}"
                  f"{q1:>12.4f}{q3:>12.4f}{p90(samples):>12.4f}{bound:>8}")
            if name in values:
                metrics[name] = {"value": v, "unit": unit}
        print(f"set-up parts: session {session_s:.3f} s, input "
              f"{statistics.median(input_s):.3f} s (median of "
              f"{SETUP_REPEATS}), {wl.WARMUP} warm-up iteration(s) "
              f"{warm_s:.3f} s")
    else:
        import eventlog
        calls, layer = eventlog.per_layer(
            eventlog.find_log(os.path.join(workdir, "events")), spans.spans,
            rows_out)
        # per call and layer counters: printed, not in the result line,
        # which holds the same metrics on every workload
        print("per call (median over traced iterations):")
        for k, v in {**calls, **wl.layer_counters(outs, calls)}.items():
            print(f"  {k:<54}{float(v):>18.4f}")
        layer["trace.wall_s"] = wall
        layer["peak_rss_mb"] = statistics.median(peak_mb)
        layer["host.calib_ms_before"] = calib_before
        layer["host.calib_ms_after"] = calib_after
        print("per iteration, summed over its calls (the result line):")
        metrics = {m["name"]: {"value": float(layer[m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, m in metrics.items():
            print(f"  {k:<54}{m['value']:>18.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload, untraced then traced, each in its own process."""
    spec = load_spec()
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    overhead = []
    for w in spec["workloads"]:
        results = []
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 w["name"], "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)], stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            print(f"\n== {w['name']} ({'traced' if trace else 'untraced'})")
            print("\n".join(lines[:-1]))
            if p.returncode != 0 or not lines:
                print(f"{w['name']}: exit code {p.returncode}")
                return p.returncode or 1
            results.append(json.loads(lines[-1]))
        for r in results:
            merged["correct"] &= r["correct"]
            merged["attempted"] += r["attempted"]
            merged["failed"] += r["failed"]
        for k, v in results[0]["metrics"].items():
            merged["metrics"][f"{w['name']}.{k}"] = v
        traced = results[1]["metrics"]["trace.wall_s"]["value"]
        untraced = results[0]["metrics"]["wall_s"]["value"]
        overhead.append((w["name"], untraced, traced))
    print("\ntracing overhead (traced median wall - untraced median wall)")
    for name, u, t in overhead:
        print(f"{name:<18}{u:>10.4f} s untraced {t:>10.4f} s traced "
              f"{t - u:>+10.4f} s ({100 * (t - u) / u:+.1f}%)")
    print(json.dumps(merged))
    return 0


def main() -> int:
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "rasters_rs_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    if args.workload == "all":
        return run_all(args.seed, seconds)
    return run_workload(args.workload, args.seed, seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
