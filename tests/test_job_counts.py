"""Spark jobs the registry's table reads, sizing counts and the
``perfbench`` vector queries run, counted per job group."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.dedup import _row_count
from spotify_pipeline_gcp_spark.queries.compat import table
from tests.conftest import jobs_run

# the vector_near_dup workload's sf0.001 input (perfbench's "small" size)
SF0001 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "data", "sf0.001",
)

# Steady-rep Spark jobs of each vector_near_dup query under a count
# terminal, at sf0.001 in the 4-core test session. A ratchet: a count
# above its pin fails; a change that lowers one lowers its pin.
VECTOR_QUERY_JOBS = {
    "qs4_cosine_topk_blas": 5,
    "qd7c_embedding_near_dup_blas": 5,
    "qd3b_ngram_jaccard_capped": 7,
    "qt10_ngram_lm_score": 5,
}


def test_repeated_read_and_footer_count_run_no_job(spark):
    table(spark, SF0001, "embeddings")  # the first read infers the schema
    got = {}
    assert jobs_run(spark, lambda: got.update(emb=table(spark, SF0001, "embeddings"))) == 0
    emb = got["emb"]
    assert jobs_run(spark, lambda: got.update(n=_row_count(emb.select("vec_id")))) == 0
    path = os.path.join(SF0001, "embeddings.parquet")
    assert got["n"] == pq.ParquetFile(path).metadata.num_rows
    # a filtered frame is not a footer count: it runs count() and its
    # answer is the filtered one
    small = emb.where(F.col("vec_id") < 10)
    assert _row_count(small) == small.count() < got["n"]


def test_rewritten_file_reinfers_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    assert table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_vector_query_steady_job_counts(spark):
    from spotify_pipeline_gcp_spark.queries import load_all

    registry = load_all()
    counts = {}
    for name in VECTOR_QUERY_JOBS:

        def op(fn=registry[name].fn):
            fn(spark, SF0001).groupBy().count().collect()

        op()  # warm-up: the first read infers the tables' schemas
        counts[name] = jobs_run(spark, op)
    assert all(counts[n] <= VECTOR_QUERY_JOBS[n] for n in counts), counts
