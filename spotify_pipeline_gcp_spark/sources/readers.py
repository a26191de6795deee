"""Schema-declared source adapters (SURVEY.md §2.1).

The reference's scans: multiline JSON with inference
(``/root/reference/spark_jobs/playback_pipeline.py:264``), CSV with
inference (``playback_pipeline_curated.py:173``), Parquet (``:190``),
and driver-side object-store listing to discover files
(``:163-166,181-183``). Here every read takes a declared schema
(inference is opt-in for exploration only) and file discovery is path
globs expanded by Spark's file index, not a hand-written loop over
object-store listings; ``session.get_spark`` has the index list up to
1024 globbed paths on the driver rather than in a Spark job. Partition
pruning comes from layout (``year=/month=/day=``) instead of string
arithmetic on paths (``main.py:46``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = True,
) -> DataFrame:
    """Nested-document JSON scan with a declared contract (ref S5)."""
    return spark.read.schema(schema).json(path, multiLine=multiline)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (ref S6); declared schema preferred, inference opt-in."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (ref S7). Self-describing; pushdown + pruning free."""
    return spark.read.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning properties as parquet; kept so
    a reference user with ORC lakes can switch formats transparently."""
    return spark.read.orc(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
