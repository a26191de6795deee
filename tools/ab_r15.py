"""r15 ANN-family A/B: isolate the r14 driver-bench regression
mechanisms (VERDICT r14 "Next round" #1) one at a time, at sf0.1,
with the BENCH methodology (warmup + min-of-3 count-terminal reps in
one session) so numbers are comparable to the driver's PERF rows.

Variants (composable with '+'):
  head     — HEAD as committed (control)
  aqe_on   — ``_no_aqe`` patched to a no-op: AQE stays ON inside the
             trainer loops (the r13 behavior)
  fewN     — ``_no_aqe`` additionally sets spark.sql.shuffle.partitions
             to N inside the scope (e.g. few4): keeps the r14 job-count
             win but coalesces the trainer's model-sized reduce stages
  blas1    — OPENBLAS_NUM_THREADS=1 for driver + python workers

Each invocation runs ONE variant in ONE fresh process:
  python tools/ab_r15.py <variant> <cores> [query ...]
writes JSON {variant, cores, queries: {name: min_sec}, medians} to
stdout (single line) and appends to /tmp/ab_r15.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "qs7_cosine_topk_ivf_kmeans",
    "qs8_cosine_topk_ivf_kmeans_blas",
    "qs10_ann_full_blas",
    "qs11_cosine_topk_ivf_kmeans_multiprobe",
    "qs13_cosine_topk_bucketed_sized",
    "qs14_cosine_topk_ivf_kmeans_sized",
    "qs16_cosine_topk_ivf_sample_trained",
    "qs17_cosine_topk_imi",
    "qe1_label_centroids",
    "qs4_cosine_topk_blas",
    "qs6_cosine_topk_ivf_blas",
]

OUT = "/tmp/ab_r15.json"


def _apply_variant(variant: str) -> None:
    import spotify_pipeline_gcp_spark.operators.similarity as S

    for part in variant.split("+"):
        if part == "head":
            continue
        elif part == "aqe_on":
            # r14 HEAD had ``_no_aqe`` wrapping the trainer loops; the
            # r15 revert removed it, so on post-revert HEADs this
            # variant IS head. Kept so the recorded sweep stays
            # reproducible against the r14 commit.
            if not hasattr(S, "_no_aqe"):
                print("note: _no_aqe removed (r15); aqe_on == head",
                      file=sys.stderr)
                continue
            from contextlib import contextmanager

            @contextmanager
            def _noop(spark):
                yield

            S._no_aqe = _noop
        elif part.startswith("few"):
            if not hasattr(S, "_no_aqe"):
                raise SystemExit(
                    "fewN measures the r14 _no_aqe scope; removed in r15"
                )
            n = int(part[3:])
            from contextlib import contextmanager

            @contextmanager
            def _few(spark, _n=n):
                prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
                prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
                spark.conf.set("spark.sql.adaptive.enabled", "false")
                spark.conf.set("spark.sql.shuffle.partitions", str(_n))
                try:
                    yield
                finally:
                    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
                    spark.conf.set(
                        "spark.sql.shuffle.partitions", prev_parts
                    )

            S._no_aqe = _few
        elif part == "blas1":
            pass  # handled pre-session in main()
        else:
            raise SystemExit(f"unknown variant part: {part}")


def main() -> int:
    variant = sys.argv[1]
    cores = int(sys.argv[2])
    names = sys.argv[3:] or DEFAULT_QUERIES

    if "blas1" in variant.split("+"):
        # before the JVM launches so driver AND forked python workers
        # inherit it
        for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
            os.environ[k] = "1"

    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    _apply_variant(variant)

    from spotify_pipeline_gcp_spark.queries import load_all
    from spotify_pipeline_gcp_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark(
        f"ab_r15_{variant}_{cores}",
        driver_memory="4g",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setJobDescription(f"ab_r15 {variant} c{cores} warmup")
    for name in names:
        registry[name].fn(spark, sf_dir).count()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        runs = []
        spark.sparkContext.setJobDescription(f"ab_r15 {variant} {name}")
        for _ in range(3):
            t0 = time.time()
            registry[name].fn(spark, sf_dir).count()
            runs.append(time.time() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[1], 3)
    result = {
        "variant": variant,
        "cores": cores,
        "total": round(sum(timings.values()), 3),
        "queries": timings,
        "medians": medians,
    }
    doc = []
    if os.path.exists(OUT):
        with open(OUT) as fh:
            doc = json.load(fh)
    doc.append(result)
    tmp = OUT + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1)
    os.replace(tmp, OUT)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
