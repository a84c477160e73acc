"""End-to-end benchmark of the asid_v2_data_pipeline_spark engine.

    python3 benchmark/run.py --workload build|train|apply|curate \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.bench_work/`` and removed at exit.  One closed-loop client in
one process drives Spark ``local[N]`` (N = usable cores).

``--trace 0``: write the inputs, then time set-up (``setup_s``: Spark
session start plus the engine's first read of the inputs), then measure:
a batch workload (build, train, curate) runs its entry point once, as
the session's first pass; apply is warmed up and then serves scenes back
to back for ``--seconds``.  ``--trace 1``: per pass run the untraced
entry point and the traced layer-by-layer composition, check both give
the same rows, and report the per-layer metrics (medians over passes).
Either way every output is checked, and the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "asid_v2_data_pipeline_spark"
WARM_PASSES = 12  # apply warm-up scenes

# what one unit of ``work_per_s`` is, and the workload-specific names
WORK = {
    "build": ("build_mpix_per_s", "SAR Mpx committed to the patch sink/s", 1e-6),
    "train": ("train_patches_per_s", "patches in full batches/s", 1.0),
    "apply": ("apply_scenes_per_s", "scenes/s", 1.0),
    "curate": ("curate_docs_per_s", "input docs/s", 1.0),
}
LATENCY = {
    "build": "build_pass", "train": "train_pass", "apply": "apply_scene", "curate": "curate_pass",
}


def declared_metrics() -> tuple[dict, dict]:
    """Metric names and units as ``BENCHMARK.json`` declares them:
    (end-to-end, per-layer).  A layer idle on a workload reports 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    return ({m["name"]: m["unit"] for m in doc["end_to_end"]},
            {m["name"]: m["unit"] for m in doc["per_layer"]})


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORK))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    return ap.parse_args(argv)


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(work: str, cpus: int) -> None:
    """Everything the engine reads at import or session start."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # session.py reads it at import
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # spark-submit's launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    for d in ("spark-local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def start_spark(work: str, cpus: int):
    from asid_v2_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="benchmark",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail_index(n: int) -> int:
    """Index (ascending order) of the highest sample with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    return n - 11 if n >= 11 else n - 1


def warm_up(wl, log) -> list:
    """For a workload served from a running session (apply): run
    WARM_PASSES passes, the cold first one included.  Per-scene latency
    still falls slowly after that, so a fixed count (not a time budget or
    a "stopped falling" test) keeps every run at the same point of the
    curve.  A batch workload is not warmed: its first pass is what its
    user waits for."""
    if wl.batch:
        return []
    passes = [wl.run() for _ in range(WARM_PASSES)]
    log("warm-up: " + " ".join(f"{p.seconds:.3f}" for p in passes))
    return passes


def measure(args, wl, log) -> tuple[dict, list, str]:
    """Closed loop: run passes back to back for ``args.seconds`` (at least
    one; exactly one, the first of the session, for a batch workload);
    report the median rate."""
    passes = []
    t_end = time.perf_counter() + args.seconds
    while not passes or (not wl.batch and time.perf_counter() < t_end):
        passes.append(wl.run())
    log("measured: " + " ".join(f"{p.seconds:.3f}" for p in passes))
    lat = sorted(p.seconds for p in passes)
    k = tail_index(len(lat))
    name, unit, scale = WORK[args.workload]
    rate = statistics.median(p.units / p.seconds for p in passes) * scale
    lname = LATENCY[args.workload]
    summary = (f"{name}={rate:.6g} ({unit}); {lname}_p50_s={statistics.median(lat):.6g}; "
               f"{lname}_tail_s={lat[k]:.6g} (p{100.0 * (k + 1) / len(lat):.1f} of "
               f"{len(lat)} samples, {len(lat) - k - 1} beyond)")
    return {"work_per_s": rate}, passes, summary


def traced(args, wl, stats, driver_log, per_layer, log) -> tuple[dict, list]:
    """Per pass: the untraced entry point, then the traced composition;
    per-layer values are medians over passes, self times from the spans.
    Passes repeat for ``args.seconds`` (at least one)."""
    from probe import Tracer

    tr = Tracer()
    per_pass, oks = [], []
    t_end = time.perf_counter() + args.seconds
    while not per_pass or time.perf_counter() < t_end:
        tr.pass_id = len(per_pass)
        m, same = wl.traced(tr, stats, driver_log)
        for name, secs in tr.self_times(tr.pass_id).items():
            if f"{name}_s" in per_layer:
                m[f"{name}_s"] = m.get(f"{name}_s", 0.0) + secs
        per_pass.append(m)
        oks.append(same)
        if not same:
            log(f"pass {tr.pass_id}: traced composition rows differ from the entry point's")
    values = {}
    for name in per_layer:
        vals = [m[name] for m in per_pass if name in m]
        values[name] = float(statistics.median(vals)) if vals else 0.0
    os.makedirs(f"{ROOT}/.bench_trace", exist_ok=True)
    with open(f"{ROOT}/.bench_trace/{args.workload}-seed{args.seed}.json", "w") as f:
        json.dump({"spans": tr.dump(), "passes": per_pass}, f)
    return values, oks


def run_workload(args, wl, work, cpus, driver_log, log) -> tuple[dict, str]:
    from probe import RssSampler, SparkStats

    end_to_end, per_layer = declared_metrics()
    t0 = time.perf_counter()
    wl.setup(f"{work}/input")
    inputs_s = time.perf_counter() - t0

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        # set-up: the session (JVM, SparkContext) and the engine's first
        # read of the inputs
        t0 = time.perf_counter()
        spark = wl.spark = start_spark(work, cpus)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("WARN")
        wl.first_scan()
        setup_s = time.perf_counter() - t0
        log(f"inputs written in {inputs_s:.3f} s; spark local[{cpus}] up in {t1 - t0:.3f} s, "
            f"first scan {setup_s - (t1 - t0):.3f} s")
        passes = warm_up(wl, log)
        if args.trace:
            values, oks = traced(args, wl, SparkStats(spark), driver_log, per_layer, log)
            units, summary = per_layer, ""
        else:
            values, measured, summary = measure(args, wl, log)
            passes += measured
            oks = []
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = rss.stop()
    for p in passes:
        if not p.ok:
            log(f"wrong output: {p.detail}")
    checks = [p.ok for p in passes] + oks
    failed = checks.count(False)
    if args.trace:
        values["session.peak_rss_mb"] = peak_mb
    else:
        values["setup_s"] = setup_s
        units = end_to_end
        summary = (f"{args.workload}: {summary}; setup_s={setup_s:.6g}; inputs_s={inputs_s:.6g}; "
                   f"peak_rss_mb={peak_mb:.6g}; failed_frac={failed}/{len(checks)}")
    result = {
        "correct": failed == 0, "attempted": len(checks), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"{ENGINE} not found in {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = usable_cpus()
    pin_environment(work, cpus)

    from inputs import FULL, TINY
    from probe import DriverLog
    from workloads import WORKLOADS

    driver_log = DriverLog(f"{work}/driver.log")
    err = driver_log.console()

    def log(msg: str) -> None:
        print(f"[{args.workload}] {msg}", file=err, flush=True)

    result = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, TINY if args.tiny else FULL)
        result, summary = run_workload(args, wl, work, cpus, driver_log, log)
    except Exception:
        import traceback

        log(traceback.format_exc())
        log("driver log tail:\n" + driver_log.tail())
    finally:
        driver_log.restore()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    if summary:
        print(summary)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
