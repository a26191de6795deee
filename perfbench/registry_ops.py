"""``vector_near_dup``: one op is one registry query with a count terminal.

The queries run over the ``embeddings`` and ``documents`` tables of the
star-schema test data (kept under ``data/``), replicated by
``tools/make_scale_data.py``: BLAS top-k and the near-dup pair kernel,
which cross the Arrow/Python boundary, and capped n-gram Jaccard pairs
and the n-gram language model, which stay in the JVM.

Before the first op, every query's registry DuckDB oracle is run. Every
timed op's count is compared with the oracle's row count, the first op
included. Once per run, outside the timed window, every query's rows
are collected and compared with the oracle by the ``tools/selfcheck.py``
rule: row count, column names and types, and the order-insensitive
values. A mismatch fails the op.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import time
from urllib.parse import urlparse

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ("embeddings", "documents")
QUERIES = [
    "qs4_cosine_topk_blas",
    "qd7c_embedding_near_dup_blas",
    "qd3b_ngram_jaccard_capped",
    "qt10_ngram_lm_score",
]


class VectorNearDup:
    name = "vector_near_dup"

    def __init__(self, work: str, seed: int, size: dict):
        self.work = work
        self.seed = seed
        self.size = size
        self.data = os.path.join(work, "data")
        self.oracle: dict = {}
        self.expected_rows: dict[str, int] = {}
        self.rows_read: dict[str, int] = {}
        # added to every oracle row count by the harness self-test, which
        # must see a wrong result reported as a failed op
        self.skew = 0

    def generate(self, windows: int) -> dict:
        """Replicate the test tables and run every query's oracle."""
        self.windows = windows
        from spotify_pipeline_gcp_spark.queries import load_all

        src = os.path.join(HERE, "data", self.size["data"])
        subprocess.run(
            [
                sys.executable, os.path.join(ROOT, "tools", "make_scale_data.py"),
                src, self.data, str(self.size["factor"]), ",".join(TABLES),
            ],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        registry = load_all()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.environ['SPARK_GRAFT_CPUS']}")
            for table in TABLES:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name in QUERIES:
                self.oracle[name] = con.execute(registry[name].oracle).df()
                self.expected_rows[name] = len(self.oracle[name]) + self.skew
        finally:
            con.close()
        return {
            "source": self.size["data"],
            "factor": self.size["factor"],
            **{
                table: pq.ParquetFile(
                    os.path.join(self.data, f"{table}.parquet")
                ).metadata.num_rows
                for table in TABLES
            },
            "oracle_rows": {name: len(df) for name, df in self.oracle.items()},
        }

    def start(self, spark) -> None:
        from spotify_pipeline_gcp_spark.queries import load_all

        self.spark = spark
        self.registry = load_all()
        self.rng = random.Random(self.seed)

    def first_op(self, tracer):
        return self.run_op(tracer, QUERIES[0])

    def warm_ops(self) -> list:
        """The output check of every query, then an untimed pass of the ops.

        The check collects rows, so it leaves each query's count plan
        cold; without the extra pass the window's first pass ran about a
        fifth slower than its second.
        """
        checks = [lambda tracer, n=name: (None, None, self.check(n)) for name in QUERIES]
        counts = [lambda tracer, n=name: self.run_op(tracer, n) for name in QUERIES]
        return checks + counts

    def window(self, seconds: float):
        """(round, query, op) in seed-shuffled whole passes until ``seconds``.

        Each pass is a round; a traced window has at least one untraced and
        one traced pass.
        """
        t0 = time.perf_counter()
        round_ = 0
        while time.perf_counter() - t0 < seconds or round_ < self.windows:
            names = list(QUERIES)
            self.rng.shuffle(names)
            for name in names:
                yield round_, name, lambda tracer, n=name: self.run_op(tracer, n)
            round_ += 1

    def final_ops(self) -> list:
        return []

    def run_op(self, tracer, name: str) -> tuple[float, int, bool]:
        """Run one query to a count; return (seconds, input rows, check)."""
        t0 = time.perf_counter()
        with tracer.op():
            df = tracer.span(
                "queries.plan_s", self.registry[name].fn, self.spark, self.data
            )
            n = tracer.count(df)
            elapsed = time.perf_counter() - t0
        return elapsed, self.rows_read.get(name, 0), n == self.expected_rows[name]

    def check(self, name: str) -> bool:
        """Collect the query's rows and compare them with its oracle."""
        from tools.selfcheck import compare

        df = self.registry[name].fn(self.spark, self.data)
        self.rows_read[name] = sum(
            pq.ParquetFile(urlparse(f).path).metadata.num_rows for f in df.inputFiles()
        )
        got = df.toPandas()
        return (
            not compare(name, got, self.oracle[name])
            and len(got) == self.expected_rows[name]
        )
