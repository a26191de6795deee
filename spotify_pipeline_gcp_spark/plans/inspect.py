"""Physical-plan inspection utilities.

Scale correctness is a plan property, not a timing: a filter that
doesn't reach the parquet scan, a projection that reads every column,
or a dimension join that shuffles the fact side are 100 TB failures
that run fine at sf0.01. These helpers make plan shape assertable in
tests (tests/test_plans.py) and dumpable for review.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def _explain(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as first planned. Explained on a
    fresh projection of ``df``: once ``df`` itself has run an action,
    its adaptive plan prints both the final and the initial plan, and
    every parser below would count each operator twice."""
    return _explain(df.select("*"))


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached the parquet scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", formatted_plan(df)):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan — what actually gets read off disk."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in the plan (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    plan = formatted_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (lower bound on
    shuffle stages; AQE may coalesce at runtime). Counts the detail
    headers (``(n) Exchange``) so each operator is counted once."""
    return len(re.findall(r"\(\d+\) Exchange", formatted_plan(df)))


def codegen_spans(df: DataFrame) -> int:
    """WholeStageCodegen regions — wider is better (fewer interpreted
    boundaries). Read from ``df``'s own plan: adaptive execution
    assigns codegen ids only when the frame runs, so this is 0 until
    ``df`` has run an action."""
    return len(set(re.findall(r"codegen id : (\d+)", _explain(df))))
