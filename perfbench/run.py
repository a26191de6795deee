#!/usr/bin/env python3
"""Closed-loop benchmark of the spark-graft engine, one workload per run.

    python3 perfbench/run.py --workload daily_playback_etl --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a checkout. Inputs are made from ``--seed`` before
any clock starts, under ``.perfbench_work/`` in the checkout, which is
removed at the end. Then child processes set up sessions; the last of
them is the client: it drives one ``local[nproc]`` session and sends
the next op only when the previous one has finished.

With ``--trace 0`` the run reports the end-to-end metrics:

- ``setup_s``: median of two set-ups, each in a fresh child process
  and timed from its spawn until its session has run a first trivial
  job (interpreter start, imports, registry load, ``get_spark``). The
  second child is the client;
- ``first_op_s``: the first op in the fresh session;
- ``op_p50_s``: the median op of the timed window, after warm-up;
- ``rows_per_s``: input rows fed over the timed window / its op time.

With ``--trace 1`` it reports the per-layer metrics instead (see
``layers.py``), and only the client sets up: the window is twice as long
and alternates untraced and traced rounds: ETL days, or whole passes
over the queries. ``trace.overhead`` is the median
traced op minus the median untraced one. Every run ends with the
calibration probes of ``bench.py``, which witness the host's speed.

The second-to-last stdout line is the run record (inputs, box with the
calibration probes, every op time); the last is the result:
``{"correct", "attempted", "failed", "metrics"}``. An op that raises or
whose output check fails counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Input sizes. "small" is the self-test's.
SIZES = {
    "full": {
        "daily_playback_etl": {"users": 40, "plays_per_doc": 50, "warm_ops": 2},
        "vector_near_dup": {"data": "sf0.1", "factor": 1},
    },
    "small": {
        "daily_playback_etl": {"users": 4, "plays_per_doc": 10, "warm_ops": 1},
        "vector_near_dup": {"data": "sf0.001", "factor": 1},
    },
}
SETUP_SAMPLES = 2
DRIVER_MEMORY = "2g"
CALIBRATION_ROWS = 600_000
# A run must end within 180 s; past this many seconds no further op starts.
DEADLINE_S = 130
STARTED = time.perf_counter()


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def setup_session(work: str):
    """Imports, registry load, session start and a first trivial job.

    Returns the session and the seconds the ``get_spark`` call took.
    """
    from spotify_pipeline_gcp_spark.queries import load_all
    from spotify_pipeline_gcp_spark.session import get_spark

    load_all()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    start_s = time.perf_counter() - t0
    spark.range(1).count()
    return spark, start_s


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def spawn_child(work: str, job: str | None) -> tuple[float, str]:
    """Start a child that sets up a session; with ``job``, it then runs it.

    Returns the seconds from spawning the child until its session was
    ready, and the child's last stdout line. A probe child's stderr goes
    to a log that is shown only if it fails; the client's is passed on.
    """
    cmd = [sys.executable, os.path.abspath(__file__), "--child", work]
    if job:
        cmd += ["--job", job]
    log_path = os.path.join(work, f"child-{time.monotonic_ns()}.log")
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        child = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=None if job else log, text=True
        )
        ready = None
        last = ""
        try:
            for line in child.stdout:
                if ready is None and line.strip() == "ready":
                    ready = time.perf_counter() - t0
                last = line
            child.wait(timeout=120)
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
    if child.returncode != 0 or ready is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"child process failed with exit code {child.returncode}")
    return ready, last


class OpLog:
    """Ops attempted and failed; a failed op is never a timed sample."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args):
        """Run one op; return its result, or ``None`` if it failed."""
        self.attempted += 1
        try:
            out = fn(*args)
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        if not out[-1]:
            self.failed += 1
            return None
        return out


def drive(wl, spark, seconds: float, trace: int, deadline: float) -> dict:
    """First op, warm-up, the timed window and the final checks.

    With tracing on, the window is twice as long and alternates untraced
    and traced rounds (an op, or a pass over the queries), so neither
    warm-up drift nor the query mix biases ``trace.overhead``.
    """
    from layers import Tracer

    off = Tracer(spark, enabled=False)
    tracers = [off, Tracer(spark, enabled=True)] if trace else [off]
    log = OpLog()
    wl.start(spark)
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    first = log.run(wl.first_op, off)
    phase("first_op")
    for op in wl.warm_ops():
        log.run(op, off)
    phase("warm")
    window = {id(t): ([], [], []) for t in tracers}
    for round_, label, op in wl.window(seconds * len(tracers)):
        if time.perf_counter() - STARTED > deadline:
            break
        tracer = tracers[round_ % len(tracers)]
        out = log.run(op, tracer)
        if out is not None:
            times, rows, labels = window[id(tracer)]
            times.append(out[0])
            rows.append(out[1])
            labels.append(label)
    phase("window")
    for op in wl.final_ops():
        log.run(op, off)
    phase("final")
    return {
        "attempted": log.attempted,
        "failed": log.failed,
        "phases_s": phases,
        "first_op_s": first[0] if first else None,
        "untraced": window[id(off)],
        "traced": window[id(tracers[-1])] if trace else None,
        "trace_ops": tracers[-1].ops,
    }


def calibrate(spark, work: str) -> dict[str, float]:
    """``bench.py``'s fixed-work probes over a fixed-seed lineitem table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bench import _calibration

    cal_dir = os.path.join(work, "calibration")
    os.makedirs(cal_dir, exist_ok=True)
    rng = np.random.default_rng(0)
    pq.write_table(
        pa.table(
            {
                "l_extendedprice": rng.uniform(900.0, 105_000.0, CALIBRATION_ROWS),
                "l_discount": rng.integers(0, 11, CALIBRATION_ROWS) / 100.0,
            }
        ),
        os.path.join(cal_dir, "lineitem.parquet"),
    )
    cal = _calibration(spark, cal_dir, reps=1)
    return {"calib.cpu_s": cal["cpu_sec"], "calib.scan_s": cal["scan_sec"],
            "calib.job_s": cal["job_sec"]}


def client(work: str, job: dict, session) -> dict:
    """The client child's work once its session is ready."""
    spark, start_s = session
    try:
        raw = drive(job["workload"], spark, job["seconds"], job["trace"], job["deadline"])
        raw["session.start_s"] = start_s
        raw["box"] = {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        t_cal = time.perf_counter()
        raw["box"].update(calibrate(spark, work))
        raw["phases_s"]["calibrate"] = time.perf_counter() - t_cal
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    raw["phases_s"]["stop"] = time.perf_counter() - t_stop
    return raw


def make_workload(name: str, work: str, seed: int, scale: str):
    size = SIZES[scale][name]
    if name == "daily_playback_etl":
        from etl import DailyPlaybackEtl

        return DailyPlaybackEtl(work, seed, size)
    from registry_ops import VectorNearDup

    return VectorNearDup(work, seed, size)


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def run(args, work: str) -> tuple[dict, dict]:
    configure_env(work)
    wl = make_workload(args.workload, work, args.seed, args.scale)
    if args.force_mismatch:
        wl.skew = 1
    t_gen = time.perf_counter()
    inputs = wl.generate(windows=2 if args.trace else 1)
    os.sync()  # write the inputs back now, not while ops are timed
    t_gen = time.perf_counter() - t_gen

    t_setup = time.perf_counter()
    setups = [] if args.trace else [spawn_child(work, None)[0] for _ in range(SETUP_SAMPLES - 1)]
    t_setup = time.perf_counter() - t_setup
    job_path = os.path.join(work, "job.pickle")
    with open(job_path, "wb") as fh:
        pickle.dump(
            {
                "workload": wl,
                "seconds": args.seconds,
                "trace": args.trace,
                "deadline": DEADLINE_S - (time.perf_counter() - STARTED),
            },
            fh,
        )
    ready, last = spawn_child(work, job_path)
    setups.append(ready)
    raw = json.loads(last)

    times, rows, labels = raw["untraced"]
    metrics: dict[str, tuple[float, str]] = {}
    if not args.trace:
        metrics["setup_s"] = (p50(setups), "s")
        metrics["first_op_s"] = (raw["first_op_s"], "s")
        metrics["op_p50_s"] = (p50(times), "s")
        metrics["rows_per_s"] = (sum(rows) / sum(times) if times else None, "rows/s")
    else:
        from layers import per_layer

        metrics.update(
            per_layer(
                raw["trace_ops"], raw["traced"][0], times, raw["session.start_s"], raw["box"]
            )
        )
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "box": raw["box"],
        "phases_s": {"generate": t_gen, "setup_probes": t_setup, **raw["phases_s"]},
        "setup_samples_s": setups,
        "first_op_s": raw["first_op_s"],
        "window_ops": labels,
        "window_op_s": times,
        "window_rows": rows,
        "traced_op_s": raw["traced"][0] if args.trace else [],
    }
    # a metric no successful op measured reads 0 and fails the run
    missing = {k for k, (v, _) in metrics.items() if v is None or v != v}
    result = {
        "correct": raw["failed"] == 0 and not missing,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {
            k: {"value": 0.0 if k in missing else v, "unit": u}
            for k, (v, u) in metrics.items()
        },
    }
    return record, result


def child_main(work: str, job_path: str | None) -> int:
    """Set up a session, say ``ready``; then run the job, if there is one."""
    configure_env(work)
    session = setup_session(work)
    print("ready", flush=True)
    if job_path is None:
        stop_session(session[0])
        return 0
    with open(job_path, "rb") as fh:
        job = pickle.load(fh)
    print(json.dumps(client(work, job, session)), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=["daily_playback_etl", "vector_near_dup"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=6)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--scale", choices=sorted(SIZES), default="full")
    parser.add_argument(
        "--force-mismatch",
        action="store_true",
        help="skew the expected outputs, so every checked op must fail",
    )
    parser.add_argument("--child", metavar="WORK", help=argparse.SUPPRESS)
    parser.add_argument("--job", metavar="PATH", help=argparse.SUPPRESS)
    args = parser.parse_args(argv)

    if args.child:
        return child_main(args.child, args.job)
    if not args.workload:
        parser.error("--workload is required")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
