"""Scale ladder: each named query at the base sf dir and at an N-fold
replica of it (``tools/make_scale_data.py``), one row per query.

Usage: python tools/ladder.py <scaled_dir> <factor> <out.json> name [name ...]

The base dir is ``$SPARK_GRAFT_SF_DIR`` (default sf0.1), as in
``bench.py``. Rows land in ``out.json["factor<N>"]["queries"]`` as each
finishes, with the keys every ``SCALE_BENCH_r*.json`` carries:
``base_sec``, ``scaled_sec``, ``ratio``, ``base_rows``, ``scaled_rows``,
``gc_sec``, ``heap_mb``, ``code_cache_mb``, ``drain``; ``single_run``
marks a one-shot scaled row, ``*_build_sec`` a store build timed apart
from serving, ``err``/``timeout_sec`` a row that failed. A name already
in the file is skipped, so an interrupted rung resumes where it stopped
and re-measuring means writing a new file.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# The 4 g heap is the memory contract the rung checks: a query that
# only passes with a bigger heap is a scale bug, not a row.
DRIVER_MEM = "4g"
# A repeat of a row whose first run is this close to the watchdog
# risks two timeouts for one number; such rows are one-shots.
SINGLE_RUN_ABOVE_SEC = 450
# ~4x the slowest legitimate row: an unattended rung cancels a stalled
# query (a hot bucket gone quadratic) and records it instead of
# blocking the rows behind it.
MAX_QUERY_SEC = 600

# Queries whose first run builds a persisted manifest, store or model:
# the build is run apart (and timed apart) so each recorded row is the
# recurring serving cost.
WARM_BUILD = {
    "qs18_pq_adc_topk",
    "qs19_cosine_topk_ivfpq",
    "qs19b_cosine_topk_ivfpq_store",
    "qs22b_ann_index_maintenance_manifest",
    "qs25_cosine_topk_imi_adc",
    "qs27_cosine_topk_ivfpq_gather",
    "qst7_streaming_index_maintenance",
    "qst8_streaming_ann_serving",
}


class QueryTimeout(Exception):
    pass


def _session():
    from spotify_pipeline_gcp_spark.session import get_spark

    return get_spark(
        "ladder",
        driver_memory=DRIVER_MEM,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _jvm_probe(spark) -> tuple[float, float, float]:
    """(heap used MB, total GC s, code cache used MB) of the driver JVM,
    which in local mode runs every task. A full code cache silently
    turns the JIT off, so it is the first suspect for a slow late row."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    gc_ms = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    code = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "CodeHeap" in p.getName() or "Code Cache" in p.getName()
    )
    return heap / 1048576.0, gc_ms / 1000.0, code / 1048576.0


def run_one(spark, fn, sf_dir: str) -> tuple[float, int]:
    """Seconds and rows of one execution, drained through a ``noop``
    write: the whole plan runs (``count()`` could prune it) and no
    data-sized result crosses py4j (``collect()`` would time that). The
    row count comes from an ``Observation`` on the same execution; a
    second, counting execution left enough JVM state to OOM the next
    query at the 1000x rung."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    group = f"ladder-{time.time_ns()}"
    sc.setJobGroup(group, "scale ladder query", True)
    fired = threading.Event()

    def _cancel():
        fired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(MAX_QUERY_SEC, _cancel)
    timer.daemon = True
    timer.start()
    t0 = time.time()
    try:
        obs = Observation()
        fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0, int(obs.get["n"])
    except Exception:
        if fired.is_set():
            raise QueryTimeout(f"cancelled after {MAX_QUERY_SEC}s") from None
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def measure_row(spark, name: str, fn, scaled_dir: str) -> dict:
    row: dict = {"drain": "noop"}
    stage = "base"
    try:
        if name in WARM_BUILD:
            t0 = time.time()
            run_one(spark, fn, BASE)
            row["base_build_sec"] = round(time.time() - t0, 3)
        tb, nb = run_one(spark, fn, BASE)
        tb = min(tb, run_one(spark, fn, BASE)[0])
        row.update(base_sec=round(tb, 3), base_rows=nb)
        if name in WARM_BUILD:
            stage = "build"
            g0 = _jvm_probe(spark)[1]
            t0 = time.time()
            run_one(spark, fn, scaled_dir)
            row["scaled_build_sec"] = round(time.time() - t0, 3)
            row["build_gc_sec"] = round(_jvm_probe(spark)[1] - g0, 1)
        stage = "scaled"
        h0, g0, _ = _jvm_probe(spark)
        ts, ns = run_one(spark, fn, scaled_dir)
        if ts > SINGLE_RUN_ABOVE_SEC:
            row["single_run"] = True
        else:
            ts = min(ts, run_one(spark, fn, scaled_dir)[0])
        h1, g1, c1 = _jvm_probe(spark)
    except QueryTimeout as ex:
        return {**row, "timeout_sec": MAX_QUERY_SEC, "err": f"{stage}: {ex}"}
    except Exception as ex:  # noqa: BLE001 - one bad row must not end the rung
        traceback.print_exc()
        return {**row, "err": f"{stage}: {type(ex).__name__}: {ex}"[:400]}
    return {
        **row,
        "scaled_sec": round(ts, 3),
        "ratio": round(ts / tb, 2),
        "scaled_rows": ns,
        "gc_sec": round(g1 - g0, 1),
        # a GC between the probes makes the delta negative, which says
        # only that a collection happened mid-row
        "heap_mb": max(0, round(h1 - h0)),
        "code_cache_mb": round(c1),
    }


def _save(path: str, doc: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1)
    os.replace(tmp, path)


def main() -> int:
    if len(sys.argv) < 5:
        raise SystemExit(__doc__)
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM) != DRIVER_MEM:
        raise SystemExit("the ladder pins a 4g driver; unset SPARK_GRAFT_DRIVER_MEM")
    scaled_dir, factor, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    doc = {}
    if os.path.exists(out):
        with open(out) as fh:
            doc = json.load(fh)
    sec = doc.setdefault(
        f"factor{factor}",
        {
            "base": BASE,
            "scaled": scaled_dir,
            "factor": factor,
            "driver_memory": DRIVER_MEM,
            "policy": f"min-of-2, single-run above {SINGLE_RUN_ABOVE_SEC}s",
            "queries": {},
        },
    )
    todo = [n for n in sys.argv[4:] if n not in sec["queries"]]
    if not todo:
        return 0

    from bench import _calibration
    from spotify_pipeline_gcp_spark.queries import load_all

    registry = load_all()
    unknown = [n for n in todo if n not in registry]
    if unknown:
        raise SystemExit(f"not registered: {unknown}")
    spark = _session()
    try:
        scaled_cal = _calibration(spark, scaled_dir)
    except Exception:  # noqa: BLE001
        scaled_cal = {"note": "no lineitem in selective scaled dir"}
    sec["_calibration"] = {"base": _calibration(spark, BASE), "scaled": scaled_cal}
    _save(out, doc)
    for name in todo:
        # A fresh session per row: the state one row leaves behind
        # (broadcasts, shuffle files, AQE leftovers awaiting the context
        # cleaner) was enough to OOM the next rows at the 1000x rung.
        # Stopping the context frees it; the py4j gateway JVM, and with
        # it the heap cap and code cache, lives as long as this process.
        with contextlib.suppress(Exception):
            spark.stop()
        spark = _session()
        # WARM_BUILD rows build into an empty store root: a store left by
        # an earlier run would make the build a staleness no-op, and the
        # model store makes the trained families serve from disk, as a
        # fresh session does in production. Every other row runs the
        # default in-process path.
        os.environ.pop("SPARK_GRAFT_MANIFEST_DIR", None)
        os.environ.pop("SPARK_GRAFT_MODEL_STORE", None)
        store = None
        if name in WARM_BUILD:
            store = tempfile.mkdtemp(prefix="spark_graft_ladder_")
            os.environ["SPARK_GRAFT_MANIFEST_DIR"] = store
            os.environ["SPARK_GRAFT_MODEL_STORE"] = store
        sec["queries"][name] = row = measure_row(
            spark, name, registry[name].fn, scaled_dir
        )
        if store:
            shutil.rmtree(store, ignore_errors=True)
        _save(out, doc)
        print(f"[factor{factor}] {name}: {row}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
