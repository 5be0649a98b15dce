"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_mixed,stream_state} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The ops read the sf0.1 tables in
``perfbench/data/sf0.1``. It starts ``local[<cores>]`` through
``tafra_spark.get_spark`` three times (each set-up: session start, Arrow
worker pool start, staging of the stream input; ``setup_s`` is their
median), runs the workload on the last session and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones
(see ``layers.py``), and the spans and counts also go to
``.perfbench_work/trace-<workload>-<seed>.json``.

Everything it writes stays under ``.perfbench_work/`` in the working
directory: the per-run directory (removed at exit) and trace sidecars.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

WORKLOADS = ("batch_mixed", "stream_state")
N_SETUPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure(root: str, work: str) -> None:
    """Keep every file the run writes under ``work`` and let the Python
    workers import the program from ``root``. The session keeps the
    program's own settings."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    env = os.environ
    env["TMPDIR"] = tmp
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # added to the program's JVM options, not replacing them: the JVM's
    # temp dir, and no /tmp/hsperfdata_<user> file (nothing outside the run)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


def boot_worker_pool(spark) -> None:
    """One trivial Arrow stage at full parallelism starts a Python
    worker per core, as ``bench.py`` does before measuring."""

    def passthrough(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 256, 1, n).mapInPandas(passthrough, "id long").count()


def setup(t0: float, events, stage_dir: str):
    """One set-up from ``t0``: session start, worker pool, and staging of
    the stream input (``events``, its parquet path, or None for batch
    workloads). Returns (spark, {layer: seconds}, total seconds)."""
    import streams
    from tafra_spark import get_spark

    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    boot_worker_pool(spark)
    t2 = time.perf_counter()
    if events is not None:
        streams.stage(events, stage_dir)
    t3 = time.perf_counter()
    layers = {
        "session.start_s": t1 - t0,
        "session.worker_pool_s": t2 - t1,
        "session.stage_inputs_s": t3 - t2,
    }
    return spark, layers, t3 - t0


def stop() -> None:
    """Stop the session, then the JVM it ran in, and wait for the JVM to
    end (it stops its Python workers as the session stops)."""
    from pyspark import SparkContext

    from tafra_spark.session import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(root, "tafra_spark", "__init__.py"))):
        print("perfbench: run from the repository root (no __spark_entry__.py "
              "or tafra_spark/ here)", file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root, os.path.join(root, "scripts")]
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    configure(root, work)

    import workloads
    from checks import SF_DIR

    src = os.path.join(work, "stream_src")
    events = os.path.join(SF_DIR, "events.parquet") if args.workload == "stream_state" else None
    try:
        # the first set-up also imports pyspark and the program and
        # launches the JVM; later ones restart the session in that JVM
        setups = []
        t0 = time.perf_counter()
        for i in range(N_SETUPS):
            spark, layers, total = setup(t0, events, f"{src}-{i}")
            setups.append((total, layers))
            if i + 1 < N_SETUPS:
                spark.stop()
            t0 = time.perf_counter()
        setup_s = statistics.median(s[0] for s in setups)
        workloads.log("setups: " + ", ".join(f"{s[0]:.3f}s" for s in setups))

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
        if args.workload == "batch_mixed":
            tally, metrics, log = workloads.run_batch(
                spark, SF_DIR, args.seed, args.seconds, tracer)
        else:
            tally, metrics, log = workloads.run_stream(
                spark, f"{src}-{N_SETUPS - 1}", os.path.join(work, "replays"),
                args.seed, args.seconds, tracer)
        workloads.log(f"attempted {tally.attempted}, failed {tally.failed}, "
                      f"op_fail_ratio {tally.failed / max(1, tally.attempted):.4f}")
    finally:
        t_stop = time.perf_counter()
        stop()
        workloads.log(f"stopped in {time.perf_counter() - t_stop:.2f}s")
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        session = {k: statistics.median(s[1][k] for s in setups) for k in setups[0][1]}
        session["session.cold_start_s"] = setups[0][0]
        values = tracer.metrics(session, log)
        side = os.path.join(root, ".perfbench_work",
                            f"trace-{args.workload}-{args.seed}.json")
        with open(side, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "setups": setups,
                       "passes": log, "metrics": values, **tracer.sidecar()}, fh, indent=1)
    else:
        values = {"setup_s": setup_s, **metrics}
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in values.items()},
    }))
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
