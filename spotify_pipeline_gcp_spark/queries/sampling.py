"""Deterministic sampling queries (operators/sampling.py) with exact
DuckDB oracles — the digest-threshold predicate is the same string
comparison in both engines, so membership matches row-for-row."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.sampling import (
    assign_splits,
    fraction_to_hex_threshold,
    hash_sample,
)
from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import UNIT_FOLD, table

_T25 = fraction_to_hex_threshold(0.25)
_T80 = fraction_to_hex_threshold(0.8)
_T90 = fraction_to_hex_threshold(0.9)


@register(
    "qsp1_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE md5('s1:' || doc_id::VARCHAR) < '{_T25}'
    """,
)
def qsp1_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% Bernoulli sample of documents, content-
    addressed (salted md5 threshold) — reproducible across runs,
    engines, partitionings, and retries."""
    docs = table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25, salt="s1:").select(
        "doc_id", "lang", "source"
    )


@register(
    "qsp2_split_assign",
    oracle=f"""
    SELECT CASE
             WHEN md5('v1:' || doc_id::VARCHAR) < '{_T80}' THEN 'train'
             WHEN md5('v1:' || doc_id::VARCHAR) < '{_T90}' THEN 'val'
             ELSE 'test'
           END AS split,
           count(*)::BIGINT AS n_docs,
           min(doc_id) AS min_doc
    FROM documents GROUP BY 1
    """,
)
def qsp2_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by digest range: stable
    under dataset growth (new rows never move old rows between
    splits). Aggregated per split for a compact oracle check."""
    docs = table(spark, sf_dir, "documents")
    labelled = assign_splits(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1:"
    )
    return labelled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


_T10 = fraction_to_hex_threshold(0.1)
_T50 = fraction_to_hex_threshold(0.5)
_T100 = fraction_to_hex_threshold(1.0)


@register(
    "qsp3_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE md5('st1:' || doc_id::VARCHAR) <
          CASE WHEN lang = 'en' THEN '{_T10}'
               WHEN lang = 'zh' THEN '{_T100}'
               ELSE '{_T50}' END
    """,
)
def qsp3_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified sample: downsample dominant English to
    10%, keep all Chinese, 50% elsewhere — corpus rebalancing as a
    pure row-local predicate (zero shuffle, plan-asserted), exactly
    reproducible in any engine."""
    from spotify_pipeline_gcp_spark.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.1, "zh": 1.0},
        default_fraction=0.5,
        salt="st1:",
    ).select("doc_id", "lang")


_MIX = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_VALUES = ", ".join(f"('{d}', {w})" for d, w in sorted(_MIX.items()))


@register(
    "qsp4_domain_mixture",
    oracle=f"""
    WITH avail AS (
      SELECT source, count(*)::BIGINT AS n_avail FROM documents GROUP BY source
    ),
    tgt(source, w) AS (VALUES {_MIX_VALUES}),
    j AS (
      SELECT avail.source, n_avail, w FROM avail JOIN tgt USING (source)
    ),
    cap AS (SELECT min(n_avail / w) AS cap FROM j),
    fr AS (
      SELECT source, (w * (SELECT cap FROM cap)) / n_avail AS keep_frac
      FROM j
    ),
    d AS (
      SELECT doc_id, source, md5('mix:' || doc_id::VARCHAR) AS _d
      FROM documents
    )
    SELECT d.doc_id, d.source
    FROM d JOIN fr USING (source)
    WHERE ({UNIT_FOLD}) / 4294967296.0 < fr.keep_frac
    """,
)
def qsp4_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture draw: the largest deterministic sample whose
    source proportions hit a 50/30/20 target over three domains
    (others dropped). Keep rates are DATA-DEPENDENT (computed from
    per-domain counts), so membership uses the exact integer digest
    fold both engines reproduce bit-for-bit
    (operators/sampling.py::domain_mixture_sample)."""
    from spotify_pipeline_gcp_spark.operators.sampling import (
        domain_mixture_sample,
    )

    docs = table(spark, sf_dir, "documents")
    return domain_mixture_sample(
        docs, "doc_id", "source", _MIX, salt="mix:"
    ).select("doc_id", "source")


_TEMP_BUDGET = 300


@register(
    "qsp5_temperature_resample",
    oracle=f"""
    WITH n AS (
      SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
    ),
    q AS (
      SELECT source, n_docs,
             floor(1000000.0 * sqrt(n_docs))::BIGINT AS weight_q
      FROM n
    ),
    s AS (SELECT sum(weight_q)::BIGINT AS sum_q FROM q),
    plan AS (
      SELECT source, n_docs, weight_q,
             ({_TEMP_BUDGET} * weight_q) // (SELECT sum_q FROM s)
               AS target_docs
      FROM q
    ),
    d AS (
      SELECT doc_id, source, md5('temp:' || doc_id::VARCHAR) AS _d
      FROM documents
    ),
    kept AS (
      SELECT d.source, count(*)::BIGINT AS kept_docs
      FROM d JOIN plan USING (source)
      WHERE ({UNIT_FOLD}) / 4294967296.0
            < plan.target_docs / plan.n_docs
      GROUP BY d.source
    )
    SELECT plan.source, n_docs, weight_q, target_docs,
           coalesce(kept_docs, 0)::BIGINT AS kept_docs
    FROM plan LEFT JOIN kept USING (source)
    """,
)
def qsp5_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (sample ∝ n_d^0.5): the
    multilingual mixing rule, computed entirely in exact arithmetic —
    sqrt is IEEE-correctly-rounded in every engine, the weight is
    floor-quantized to BIGINT, targets are integer division, and the
    realized Bernoulli draw uses the exact digest fold — so plan AND
    realized counts hash-match cross-engine
    (operators/sampling.py::temperature_plan)."""
    from spotify_pipeline_gcp_spark.operators.sampling import temperature_plan

    docs = table(spark, sf_dir, "documents")
    return temperature_plan(
        docs, "doc_id", "source", budget=_TEMP_BUDGET, salt="temp:"
    )


@register(
    "qsp6_exact_quota_sample",
    oracle="""
    SELECT lang, count(*)::BIGINT AS n_kept, min(doc_id) AS min_doc
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5('eq:' || doc_id::VARCHAR),
                                         doc_id) AS rk
      FROM documents
    ) WHERE rk <= 40
    GROUP BY lang
    """,
)
def qsp6_exact_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language quotas (40 docs per lang, or the whole
    stratum if smaller) — the eval-set/audit-set construction rule
    Bernoulli thresholds can't provide (they hit quotas only in
    expectation). Keeps the first 40 docs per language in
    salted-digest order; the draw is unbiased, deterministic, and
    engine-exact (operators/sampling.py::exact_quota_sample).
    Aggregated per language for a compact oracle check."""
    from spotify_pipeline_gcp_spark.operators.sampling import (
        exact_quota_sample,
    )

    docs = table(spark, sf_dir, "documents")
    kept = exact_quota_sample(docs, "doc_id", "lang", quota=40, salt="eq:")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
    )
