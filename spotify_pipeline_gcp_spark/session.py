"""SparkSession factory with scale-aware defaults.

The reference builds its session ad hoc inside each job
(``/root/reference/spark_jobs/playback_pipeline.py:235-246``) with
``master("local")`` and no tuning. Here the session is centralized and
tuned: AQE on (runtime re-planning, skew-join handling, partition
coalescing), shuffle partitions sized to cores for local runs (a real
cluster deployment would size them to ``2-3x total executor cores``),
UTC session timezone so timestamp semantics match the DuckDB oracle,
and Arrow enabled for the Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "spotify_pipeline_gcp_spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    In production the same conf block applies unchanged on a cluster
    master; only ``master`` / memory sizing differ. Every conf here is
    chosen for 100 TB survivability:

    - ``spark.sql.adaptive.enabled``: AQE re-plans joins at runtime
      (auto-broadcast small post-filter sides, split skewed partitions).
    - ``spark.sql.adaptive.skewJoin.enabled``: hot-key mitigation
      without manual salting for the common cases.
    - ``spark.sql.shuffle.partitions``: cores-sized locally; on a
      cluster AQE coalescing makes a high initial value safe.
    - ``spark.sql.files.maxPartitionBytes`` 32m (was 128m until r10):
      bounds scan-task memory. Split sizing counts COMPRESSED file
      bytes but task memory scales with the ~4x larger uncompressed
      batches PLUS whatever map-side aggregate state the same stage
      carries — at the 1000x ladder point a 128m split of the 5M-doc
      corpus put ~150k docs in each of 32 concurrent tasks and
      wide-aggregate stages (minhash signatures) OOM'd a 4 g heap at
      the margin. 32m keeps per-task working sets ~4x smaller; small
      inputs are unaffected (single split either way, _spread handles
      fan-out) and on a real cluster this is the standard small-heap
      executor sizing.
    - ``spark.sql.parquet.filterPushdown`` / nested schema pruning:
      scans read only the columns/row-groups a query needs.
    - ``spark.sql.sources.parallelPartitionDiscovery.threshold`` 1024
      (Spark's default is 32): a read of up to 1024 root paths (a
      landing day's glob expands to one path per user document) lists
      them on the driver instead of as a one-task-per-path Spark job.
      In a ``local[n]`` session that job runs in the driver's own JVM,
      so it buys no parallelism: on a 4-core box a 40-file day glob
      listed in ~30 ms on the driver vs ~360 ms as a job, and a
      1,000-file backfill glob in ~0.12 s vs ~3.6 s. Past 1024 paths
      the job is kept, as it overlaps per-path latency when the paths
      live in a remote object store.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle at 8x the core count and let AQE
        # coalesce back down: per-task aggregate/spill memory shrinks
        # 8x at the 100x ladder point (r9: qd8's uncapped pair-agg
        # OOM'd a 4g heap at 32 partitions when run after other
        # queries, passes with headroom at 256) while small stages
        # coalesce to the same post-AQE parallelism as before. On a
        # real cluster this is the standard "initial partitions >>
        # final" AQE sizing.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cpus * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        # RocksDB state store: streaming state lives on local disk
        # instead of the executor heap. The default HDFSBacked store
        # keeps EVERY key in deserialized heap objects — r9 measured
        # qst2's session_window state over the 100x events replica
        # OOMing a 4g driver solo; RocksDB is the documented Spark
        # answer for state that outgrows memory (rocksdbjni ships in
        # Spark's jars since 3.2; no extra install needed).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # 512m code cache: whole-stage codegen emits a distinct class per
        # plan; the JVM default (240m) fills over a many-query session,
        # silently disabling JIT (~10-30x slowdowns on later queries).
        # GCLockerRetryAllocationCount=64: under a tight heap with many
        # concurrent tasks in JNI critical sections (parquet page /
        # shuffle-block decompression), Java 17 G1 fails allocations
        # after only 2 GCLocker retries — the r10 1000x ladder OOM'd
        # qd9b "allocating 6 words" with GC-locker starvation warnings
        # while the heap had room; the raised retry count converts that
        # liveness artifact into a short stall (the documented JDK
        # mitigation; removed upstream in JDK 22 where GCLocker was
        # reworked away).
        .config(
            "spark.driver.extraJavaOptions",
            "-Dlog4j2.level=error -XX:ReservedCodeCacheSize=512m"
            " -XX:+UnlockDiagnosticVMOptions"
            " -XX:GCLockerRetryAllocationCount=64",
        )
    )
    if driver_memory or "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        builder = builder.config(
            "spark.driver.memory",
            driver_memory or os.environ["SPARK_GRAFT_DRIVER_MEM"],
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
