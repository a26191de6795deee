"""Interleaved A/B of registered queries between two checkouts.

Usage: python tools/ab.py <dir_a> <dir_b> --pairs N name [name ...] > ab.json

``dir_a`` is the parent, ``dir_b`` the change. Each pair runs one fresh
child process per side, with that checkout first on ``sys.path``; the
side that goes first alternates, so a box that drifts during the run
loads both sides alike. A child warms every query once, times 3
``count()`` reps of each under a job group, counts the group's jobs and
stages from ``statusTracker`` and ends with that checkout's
``bench._calibration``. The sf dir is ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1); any other environment (``OPENBLAS_NUM_THREADS``, cores) is the
caller's.

stdout gets one JSON: every child's raw result under ``pairs`` and, per
query under ``summary``, each side's median and quartiles of the
per-child median rep, the pairs each side won (ties count for neither),
and the change/parent ratio of medians, raw and with every child's time
divided by its own ``job_sec``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 3


def child(side_dir: str, names: list[str]) -> dict:
    """One side of one pair, run in its own process."""
    sys.path.insert(0, side_dir)
    from bench import _calibration
    from spotify_pipeline_gcp_spark.queries import load_all
    from spotify_pipeline_gcp_spark.session import get_spark

    registry = load_all()
    spark = get_spark(
        "ab",
        driver_memory="4g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    for name in names:
        registry[name].fn(spark, SF_DIR).count()
    queries = {}
    for name in names:
        sec, jobs, stages = [], [], []
        for rep in range(REPS):
            group = f"ab-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            registry[name].fn(spark, SF_DIR).count()
            sec.append(round(time.time() - t0, 3))
            sc.setJobGroup("", "")
            tracker = sc.statusTracker()
            ids = tracker.getJobIdsForGroup(group)
            jobs.append(len(ids))
            stages.append(
                sum(len(info.stageIds) for info in map(tracker.getJobInfo, ids) if info)
            )
        queries[name] = {"sec": sec, "jobs": jobs, "stages": stages}
    result = {"queries": queries, "calibration": _calibration(spark, SF_DIR)}
    spark.stop()
    return result


def _run_side(side_dir: str, names: list[str]) -> dict:
    # bench.py's store discipline: a fresh store root per run, so one
    # side never serves (or rebuilds) a store the other side wrote
    store = tempfile.mkdtemp(prefix="spark_graft_ab_")
    code = (
        f"import json, sys; sys.path.insert(0, {os.path.dirname(__file__)!r}); "
        "import ab; print(json.dumps(ab.child(sys.argv[1], sys.argv[2:])))"
    )
    try:
        proc = subprocess.run(
            [sys.executable, "-c", code, side_dir, *names],
            cwd=side_dir,
            env={**os.environ, "SPARK_GRAFT_MANIFEST_DIR": store},
            stdout=subprocess.PIPE,
            text=True,
            check=True,
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _quartiles(xs: list[float]) -> dict:
    q1, med, q3 = np.percentile(xs, [25, 50, 75])
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


def summarize(a: list[float], b: list[float], a_job: list[float], b_job: list[float]) -> dict:
    """Pair i is ``a[i]`` against ``b[i]`` (seconds), measured in runs
    whose calibration ``job_sec`` was ``a_job[i]`` and ``b_job[i]``."""
    a_norm = [t / j for t, j in zip(a, a_job)]
    b_norm = [t / j for t, j in zip(b, b_job)]
    return {
        "a": _quartiles(a),
        "b": _quartiles(b),
        "a_wins": sum(x < y for x, y in zip(a, b)),
        "b_wins": sum(y < x for x, y in zip(a, b)),
        "ratio": round(float(np.median(b) / np.median(a)), 3),
        "ratio_job_norm": round(float(np.median(b_norm) / np.median(a_norm)), 3),
    }


def main() -> int:
    args = sys.argv[1:]
    if len(args) < 5 or args[2] != "--pairs":
        raise SystemExit(__doc__)
    dirs = {"a": os.path.abspath(args[0]), "b": os.path.abspath(args[1])}
    n_pairs, names = int(args[3]), args[4:]
    pairs = []
    for i in range(n_pairs):
        order = "ab" if i % 2 == 0 else "ba"
        pair = {"first": order[0]}
        for side in order:
            pair[side] = _run_side(dirs[side], names)
            print(f"pair {i} {side}: {pair[side]}", file=sys.stderr, flush=True)
        pairs.append(pair)

    def per_side(side: str, name: str) -> list[float]:
        return [float(np.median(p[side]["queries"][name]["sec"])) for p in pairs]

    def job_sec(side: str) -> list[float]:
        return [p[side]["calibration"]["job_sec"] for p in pairs]

    summary = {
        name: summarize(per_side("a", name), per_side("b", name), job_sec("a"), job_sec("b"))
        for name in names
    }
    doc = {"dirs": dirs, "sf_dir": SF_DIR, "pairs": pairs, "summary": summary}
    print(json.dumps(doc, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
