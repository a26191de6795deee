"""Cross-engine value-parity helpers.

The driver hash-compares Spark output against DuckDB output. Floating
point aggregates differ at ulp level between engines (different
summation order), and the two engines' ``round`` functions use
different tie-breaking (Spark: BigDecimal HALF_UP on the decimal
rendering; DuckDB: C-library rounding on the binary double). The safe
common denominator is an explicit ``floor(x * 10^k + 0.5) / 10^k``,
computed identically by both engines on (near-)identical doubles.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.kernels import QSCALE


def fixed(c: Column, decimals: int = 2) -> Column:
    """Deterministic fixed-point rounding (Spark side)."""
    scale = 10**decimals
    return F.floor(c * scale + F.lit(0.5)) / scale


def sql_fixed(expr: str, decimals: int = 2) -> str:
    """Deterministic fixed-point rounding (DuckDB oracle side)."""
    scale = 10**decimals
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


# Parquet schemas inferred per (application, path, nanosAsLong) with
# the file state they were inferred from; see ``_read_parquet``.
_SCHEMAS: dict[tuple, tuple] = {}


def _file_state(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under a local ``path``,
    sorted; None when the path is not on the local file system."""
    if "://" in path:
        return None
    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    if not files:
        return None
    state = []
    for f in files:
        st = os.stat(f)
        state.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sorted(state))


def _read_parquet(spark, path: str):
    """``spark.read.parquet(path)`` that infers the schema once.

    Schema inference is a Spark job on every read. The inferred schema
    is kept per (application id, path, ``nanosAsLong`` setting) with
    the (name, size, mtime_ns) of every file under the path, and a
    later read with the same key and file state passes it through
    ``.schema(...)``, which runs no job. A changed, added or removed
    file re-infers; a non-local path always infers."""
    state = _file_state(path)
    if state is None:
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        path,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == state:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (state, df.schema)
    return df


def table(spark, sf_dir: str, name: str):
    """Load a testdata table, normalizing physical-type quirks.

    ``events.parquet``'s ``ts`` physical type has varied across
    testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects by default — read as raw nanos via
    ``spark.sql.legacy.parquet.nanosAsLong`` and convert) or
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    TIMESTAMP_NTZ — cast to the session-zone TIMESTAMP every
    downstream event-time operator expects; wall-clock values are
    preserved, and the engine session pins UTC). Either way callers
    see a µs TIMESTAMP with identical values to DuckDB's read.

    Every table's schema is inferred once per session and file state
    (``_read_parquet``)."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        ts_field = dict(df.dtypes).get("ts")
        if ts_field == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_field == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def sql_word_ngrams(n: int, toks: str = "toks") -> str:
    """DuckDB word n-grams over a 1-based token-list column — the ONE
    shared builder for every oracle that replays the engine's regex
    gram extraction (guarded below n tokens; space-joined, matching
    the anchored-lookahead capture)."""
    join = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> {join}) ELSE []::VARCHAR[] END"
    )


# The export gate's candidate filters, shared by the batch (qp5) and
# streaming (qst6) oracles over their `feats` and deduplicated `dd`
# rows: `q` keeps documents of >= 10 tokens whose word 3-grams repeat
# at most 20%; `bad` holds the documents sharing a word 4-gram with
# the benchmark source src0.
EXPORT_QUALITY_SQL = """q AS (
      SELECT doc_id, source, toks, digest, n_tokens FROM feats
      WHERE n_tokens >= 10
        AND (CASE WHEN len(g3) > 0
                  THEN (len(g3) - len(list_distinct(g3))) / len(g3)
                  ELSE 0.0 END) <= 0.2
    )"""
EXPORT_DECONTAM_SQL = f"""bt AS (
      SELECT list_filter(string_split(regexp_replace(text, '\\s', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents WHERE source = 'src0'
    ),
    bg AS (
      SELECT DISTINCT unnest(list_distinct({sql_word_ngrams(4)})) AS gram FROM bt
    ),
    cg AS (
      SELECT doc_id, unnest(list_distinct({sql_word_ngrams(4)})) AS gram FROM dd
    ),
    bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram))"""

# The digest fold of the hash-sampling oracles: the first 8 hex digits
# of a salted md5 column `_d` as an exact integer; divided by 2^32 it
# is the row's uniform [0, 1) draw in both engines.
UNIT_FOLD = " + ".join(
    f"(strpos('0123456789abcdef', substring(_d, {j + 1}, 1)) - 1)"
    f" * {16 ** (7 - j)}::BIGINT"
    for j in range(8)
)

# The fixed-point scale of every quantized dot (operators/kernels.py::
# QSCALE): unit vectors rounded half up at 2^20 have integer dots that
# are exact in float64 under any summation order.
QA = float(QSCALE)


# Index-sizing arithmetic every auto-sized sign-bucket oracle mirrors:
# bits = least(32, greatest(1, ceil(log2(greatest(1, n // 256))))) — the
# SQL replay of operators/similarity.py::sign_bits_for
# (target_bucket=256, clamped to 32 — the clamp is INSIDE
# sign_bits_for since r10, so Python and this replay cannot disagree;
# identical integer-division + log2-on-integers arithmetic in both
# engines). Embedded — directly or via a module-local alias — by ALL
# auto-sized sign-bucket oracles (similarity: qs9/qs13/qs23 and the
# serving/labeling family; semantic dedup: qd7b/qd10); editing the
# constant changes every one of them.
SIZED_BITS_SQL = (
    "least(32, greatest(1, CAST(ceil(log2(greatest(1, count(*) // 256)))"
    " AS BIGINT)))"
)

# Hot-bucket cap every sign-bucket SELF-JOIN oracle replays — the SQL
# twin of operators/similarity.py::MAX_SIGN_BUCKET (see its comment
# for the skew rationale). Buckets holding more than this many
# vectors are dropped from candidate generation on BOTH engines:
#   hot  AS (SELECT bucket FROM coded GROUP BY bucket
#            HAVING count(*) > {SIZED_BUCKET_CAP}),
#   kept AS (SELECT c.* FROM coded c ANTI JOIN hot h USING (bucket))
# Never binds at driver scale (sf0.01/sf0.1 corpora ≤ 2,000 vectors),
# so capped and uncapped oracles agree where the driver checks them.
SIZED_BUCKET_CAP = 4096
