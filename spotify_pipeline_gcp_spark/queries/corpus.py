"""Corpus-preparation composite query (operators/corpus.py) with a
full DuckDB oracle: the end-to-end LLM training-data DAG — quality
filter -> exact dedup -> deterministic split -> per-split accounting —
verified as ONE query, not just as independent stages."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.corpus import prepare_corpus
from spotify_pipeline_gcp_spark.operators.sampling import (
    fraction_to_hex_threshold,
)
from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import (
    EXPORT_DECONTAM_SQL,
    EXPORT_QUALITY_SQL,
    sql_word_ngrams,
    table,
)

_T80 = fraction_to_hex_threshold(0.8)
_T90 = fraction_to_hex_threshold(0.9)


@register(
    "qp1_corpus_prep",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digit_chars
      FROM documents
    ),
    filtered AS (
      SELECT * FROM staged
      WHERE n_tokens >= 10 AND digit_chars * 5 <= length(text) * 1
    ),
    deduped AS (
      SELECT * FROM filtered
      WHERE doc_id IN (SELECT min(doc_id) FROM filtered GROUP BY md5(text))
    ),
    labelled AS (
      SELECT *,
             CASE WHEN md5('cp1:' || doc_id::VARCHAR) < '{_T80}' THEN 'train'
                  WHEN md5('cp1:' || doc_id::VARCHAR) < '{_T90}' THEN 'val'
                  ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, lang,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           min(doc_id) AS min_doc
    FROM labelled GROUP BY 1, 2
    """,
)
def qp1_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus prep (operators/corpus.py::prepare_corpus):
    integer-exact quality gate (>=10 tokens, <=20% digits), exact
    dedup keeping the lowest id per content digest among survivors,
    content-addressed 80/10/10 split, then per-(split, lang) doc and
    token accounting — the report a data-curation run ships with.

    Plan shape: filter and split are shuffle-free; the whole DAG
    executes with one payload shuffle (dedup semi-join) plus two
    small aggregate exchanges (digest groups, final rollup). At
    100 TB nothing on the driver grows with data volume.
    """
    docs = table(spark, sf_dir, "documents")
    prepped = prepare_corpus(docs, "doc_id", "text", salt="cp1:")
    return prepped.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
    )


@register(
    "qp2_token_shard_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS before
      FROM t
    )
    SELECT doc_id, n_tokens, (before // 2048)::BIGINT AS shard_id FROM cum
    """,
)
def qp2_token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents in id order fill fixed token-budget
    training shards (budget 2048). Spark computes the running count as
    a two-level prefix sum (block partials + tiny ordered offset pass
    + bounded within-block windows) — no one-reducer global sort; the
    oracle replays it as the equivalent single global window."""
    from spotify_pipeline_gcp_spark.operators.corpus import token_shard_packing

    return token_shard_packing(
        table(spark, sf_dir, "documents"), "doc_id", "text", budget=2048
    )


@register(
    "qp3_token_budget_selection",
    oracle="""
    WITH feats AS (
      SELECT doc_id,
             length(text)::BIGINT AS n_chars_calc,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','of','and','to','in','is','it')))::BIGINT AS stop_hits,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digit_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT AS punct_chars
      FROM documents
    ),
    scored AS (
      SELECT doc_id, n_tokens,
             floor((least(n_tokens / 100.0, 1.0) * 0.4
                    + (stop_hits / n_tokens) * 0.3
                    + (1.0 - digit_chars / n_chars_calc) * 0.2
                    + (1.0 - punct_chars / n_chars_calc) * 0.1) * 1000000 + 0.5)
               / 1000000 AS q_r
      FROM feats
    ),
    cum AS (
      SELECT doc_id, q_r, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY q_r DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS tokens_before
      FROM scored
    )
    SELECT doc_id, q_r, n_tokens, tokens_before
    FROM cum WHERE tokens_before < 8192
    """,
)
def qp3_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection: the highest-quality ~8192 tokens
    of the corpus, documents taken in (quality desc, id) priority
    order until the budget is crossed. Spark computes the priority
    cumsum two-level (per-score sums + tiny ordered offset pass +
    bounded within-score windows); the oracle replays it as one
    global window."""
    from spotify_pipeline_gcp_spark.operators.corpus import select_by_token_budget
    from spotify_pipeline_gcp_spark.operators.text import quality_score
    from spotify_pipeline_gcp_spark.queries.compat import fixed

    docs = table(spark, sf_dir, "documents")
    scored = quality_score(docs, "doc_id", "text").select(
        "doc_id",
        fixed(F.col("quality"), 6).alias("q_r"),
        F.col("n_tokens"),
    )
    return select_by_token_budget(scored, budget=8192)


@register(
    "qp4_curriculum_buckets",
    oracle="""
    WITH s AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ),
    t AS (
      SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS th FROM s
    ),
    b AS (
      SELECT doc_id, n_tokens,
             (1 + (n_tokens > th[1])::INT + (n_tokens > th[2])::INT
                + (n_tokens > th[3])::INT)::BIGINT AS bucket
      FROM s, t
    )
    SELECT bucket,
           count(*)::BIGINT AS n_docs,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens,
           sum(n_tokens)::BIGINT AS total_tokens
    FROM b GROUP BY bucket
    """,
)
def qp4_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum manifest: documents quartiled by token count
    (short -> long, the standard length curriculum) with per-phase
    doc/token accounting. Thresholds are ONE broadcast percentile
    row, assignment a row-local comparison sum — no ranking window,
    no corpus sort (operators/corpus.py::curriculum_buckets)."""
    from spotify_pipeline_gcp_spark.operators.corpus import curriculum_buckets

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    b = curriculum_buckets(scored, "n_tokens", n_buckets=4)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "qp5_export_manifest",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text,
             list_filter(string_split(regexp_replace(text, '\\s', ' ', 'g'), ' '),
                         x -> x <> '') AS toks,
             md5(text) AS digest
      FROM documents WHERE source <> 'src0'
    ),
    feats AS (
      SELECT doc_id, source, toks, digest,
             len(toks)::BIGINT AS n_tokens,
             {sql_word_ngrams(3)} AS g3
      FROM base
    ),
    {EXPORT_QUALITY_SQL},
    dd AS (
      SELECT * FROM q
      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY digest)
    ),
    {EXPORT_DECONTAM_SQL},
    clean AS (
      SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS total_tokens,
           sum(greatest(1, (n_tokens - 8 + 55) // 56))::BIGINT
             AS total_chunks,
           min(doc_id) AS min_doc
    FROM clean GROUP BY source
    """,
)
def qp5_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-EXPORT gate as one fused DAG: repetition+length
    quality filter -> exact content dedup -> benchmark
    decontamination (any shared word 4-gram with the held-out src0
    slice drops the doc) -> chunk accounting -> per-source manifest
    (operators/corpus.py::corpus_export_manifest). Composes qt6, qd1,
    qt7 and qt9's verified policies into the single plan a real
    export runs; the corpus shuffles once (dedup digest semi-join) —
    decontamination is a broadcast gram join and the manifest a
    combinable rollup. Tokens are \\S+ runs and both gram passes are
    single anchored-lookahead regex extractions (the qt7 fast path);
    the oracle replays the same tokenization via the whitespace
    normalize + empty-filter split."""
    from spotify_pipeline_gcp_spark.operators.corpus import (
        corpus_export_manifest,
    )

    docs = table(spark, sf_dir, "documents")
    return corpus_export_manifest(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        "doc_id", "text", "source",
    )


@register(
    "qp6_pack_manifest",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS before
      FROM t
    )
    SELECT doc_id, n_tokens,
           (before // 2048)::BIGINT AS shard_id,
           (before % 2048)::BIGINT AS offset_in_shard,
           (before % 2048) + n_tokens > 2048 AS spills
    FROM cum
    """,
)
def qp6_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-ASSEMBLY manifest: qp2's shard packing plus the two
    columns a training loader actually consumes — where each
    document's tokens start inside the shard's 2048-token budget and
    whether it crosses the boundary (the truncate/continue decision).
    Same two-level prefix sum, pure integer arithmetic, no extra
    pass (operators/corpus.py::token_shard_packing with_offsets)."""
    from spotify_pipeline_gcp_spark.operators.corpus import (
        token_shard_packing,
    )

    return token_shard_packing(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        budget=2048, with_offsets=True,
    )
