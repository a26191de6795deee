"""Structured Streaming queries (streaming/incremental.py).

``qst1`` runs a real streaming plan (file source -> stateful agg ->
memory sink) to completion under ``Trigger.AvailableNow`` and returns
the materialized result; because AvailableNow drains everything, the
result equals the batch GROUP BY and is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import (
    EXPORT_DECONTAM_SQL,
    EXPORT_QUALITY_SQL,
    sql_fixed,
    sql_word_ngrams,
)
from spotify_pipeline_gcp_spark.streaming.incremental import (
    streaming_sessionize,
    streaming_type_rollup,
)


@register(
    "qst1_streaming_type_rollup",
    oracle=f"""
    SELECT event_type, count(*)::BIGINT AS n,
           {sql_fixed('sum(value)')} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def qst1_streaming_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming grouped aggregate over the events file source,
    complete mode, AvailableNow — the reference's daily batch cadence
    expressed as a stream (SURVEY §2.11)."""
    return streaming_type_rollup(spark, sf_dir)


@register(
    "qst2_streaming_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      -- same (ts, event_id) tie-break as the flagged window: with
      -- ts-only ordering a session-boundary event sharing a timestamp
      -- with a same-user event could fold into the previous session
      -- nondeterministically.
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*)::BIGINT AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT session_start, session_end, user_id, n_events
    FROM agg
    WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def qst2_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time sessionization (session_window, 30-min
    gap, 1-hour watermark, append mode, AvailableNow) — the streaming
    twin of batch q30. The oracle replays the gap semantics
    (session_window merges events whose gap windows OVERLAP, so a new
    session starts at gap >= 30 min; window end = last event + gap)
    and the append-mode watermark cutoff (sessions closing within the
    final watermark of max event time stay in state, unemitted)."""
    return streaming_sessionize(spark, sf_dir)


@register(
    "qst3_streaming_static_enrich",
    oracle=f"""
    SELECT c_mktsegment AS segment, count(*)::BIGINT AS n,
           {sql_fixed('sum(value)')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def qst3_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the
    static customer dimension (broadcast into each microbatch) and
    rolled up per market segment — complete mode, AvailableNow, so
    the drained result equals the batch join+GROUP BY oracle."""
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        streaming_static_enrich_rollup,
    )

    return streaming_static_enrich_rollup(spark, sf_dir)


@register(
    "qst4_streaming_stateful_totals",
    oracle=f"""
    SELECT user_id, count(*)::BIGINT AS n_events,
           {sql_fixed('sum(value)')} AS total_r
    FROM events GROUP BY user_id
    """,
)
def qst4_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator under the driver's oracle:
    ``applyInPandasWithState`` per-user running totals (arbitrary
    Python state in the state store), drained with AvailableNow —
    the events file arrives as one microbatch, so each user's single
    update row IS the final total and equals the batch GROUP BY."""
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.queries.compat import fixed
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        _run_to_memory,
        stream_events,
    )
    from spotify_pipeline_gcp_spark.streaming.stateful import running_user_totals

    totals = running_user_totals(stream_events(spark, sf_dir))
    out = _run_to_memory(totals, "update")
    return out.select(
        "user_id", "n_events", fixed(F.col("total_value")).alias("total_r")
    )


# NOT registered: running_user_totals_tws (the Spark 4
# transformWithState successor API) needs google.protobuf in the
# Python environment, which this sandbox lacks — the operator is
# env-gated in streaming/stateful.py with a clear error and a
# skipif-gated test; qst4 keeps the applyInPandasWithState twin
# driver-verified with the same oracle.

from spotify_pipeline_gcp_spark.queries.dedup import QD11_ORACLE  # noqa: E402


@register(
    "qst5_streaming_incremental_near_dup",
    # same computation as batch qd11: AvailableNow drains the whole
    # delta, so the foreachBatch pair sink equals the batch LSH join
    # and shares its oracle verbatim.
    oracle=QD11_ORACLE,
)
def qst5_streaming_incremental_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming incremental near-dup: the qd11 delta-vs-corpus LSH
    inside a ``foreachBatch`` sink against a STORED corpus signature
    store (bands + shingle sets materialized once), matches appended
    per micro-batch — the production LLM-ingest dedup shape. Under
    AvailableNow the single-file delta is one micro-batch, so the
    drained sink equals batch qd11 and shares its oracle."""
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        streaming_incremental_near_dup,
    )

    return streaming_incremental_near_dup(
        spark,
        sf_dir,
        new_sources=["src15", "src16", "src17", "src18", "src19"],
        n=3,
        num_hashes=8,
        rows_per_band=2,
        threshold=0.8,
    )


_GATE_NEW = ["src10", "src11", "src12", "src13", "src14"]
_GATE_NEW_SQL = ", ".join(f"'{s}'" for s in _GATE_NEW)


@register(
    "qst6_streaming_export_gate",
    # AvailableNow drains the delta as one micro-batch, so the sink
    # equals the batch export gate on the same rows (see qp5).
    oracle=f"""
    WITH newd AS (
      SELECT doc_id, source, text,
             list_filter(string_split(regexp_replace(text, '\\s', ' ', 'g'), ' '),
                         x -> x <> '') AS toks
      FROM documents WHERE source IN ({_GATE_NEW_SQL})
    ),
    corp AS (
      SELECT DISTINCT md5(text) AS digest FROM documents
      WHERE source NOT IN ({_GATE_NEW_SQL}, 'src0')
    ),
    feats AS (
      SELECT doc_id, source, toks, md5(text) AS digest,
             len(toks)::BIGINT AS n_tokens,
             {sql_word_ngrams(3)} AS g3
      FROM newd
    ),
    {EXPORT_QUALITY_SQL},
    dd AS (
      SELECT * FROM q
      WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY digest)
        AND digest NOT IN (SELECT digest FROM corp)
    ),
    {EXPORT_DECONTAM_SQL}
    SELECT doc_id, source, n_tokens
    FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def qst6_streaming_export_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The qp5 export gate running CONTINUOUSLY: arriving document
    micro-batches pass quality + exact dedup (against a stored digest
    store that grows with each accepted batch, so cross-batch
    duplicates drop) + benchmark decontamination (static broadcast
    gram table), accepted rows appended to the export sink — the
    crawler-to-training-store path as a stream
    (streaming/incremental.py::streaming_export_gate). Under
    AvailableNow the delta is one micro-batch, so the drained sink
    equals the batch gate and the oracle replays it."""
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        streaming_export_gate,
    )

    return streaming_export_gate(spark, sf_dir, new_sources=_GATE_NEW)


from spotify_pipeline_gcp_spark.queries.similarity import (  # noqa: E402
    _maint_oracle,
    ensure_ivfm_manifest,
)


@register("qst7_streaming_index_maintenance", oracle=_maint_oracle())
def qst7_streaming_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING ANN index maintenance — qs22b's manifest-backed
    add-without-retrain loop in ``foreachBatch``
    (streaming/incremental.py::streaming_index_maintenance): embedding
    micro-batches assign to the STORED centroids, per-cell fill state
    grows across batches through replay-safe per-batch_id delta
    directories (current batch excluded from its own state read), and
    the drained final state equals the batch qs22 report on the same
    rows — so the whole streaming lifecycle (manifest build → stream
    assign → cross-batch accounting) is hash-verified by the same
    oracle as the batch path. The delta spools into two files read at
    one file per trigger, so the registered query genuinely exercises
    multi-batch state growth, not a single-batch degenerate."""
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        streaming_index_maintenance,
    )

    path = ensure_ivfm_manifest(spark, sf_dir)
    return streaming_index_maintenance(spark, sf_dir, path)


from spotify_pipeline_gcp_spark.queries.similarity import (  # noqa: E402
    _pq_oracle,
    ensure_pq_store,
)


@register("qst8_streaming_ann_serving", oracle=_pq_oracle(64, 4, 16, 2, 3))
def qst8_streaming_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN serving — the READ half of the streamed index
    lifecycle (qst7 is the WRITE half): query-vector micro-batches
    served in ``foreachBatch`` against the STORED compressed index
    (``ensure_pq_store``: qs18's trained codebooks + the PQ-encoded
    corpus, built once, parquet-exact), each batch running qs18's
    serving shape — lookup-table literals, one broadcast join over
    the stored codes, partial WindowGroupLimit top-3 — with results
    in replay-safe per-batch_id overwrite dirs
    (streaming/incremental.py::streaming_ann_serving). Per-query
    top-k is independent of other queries, so the drained union over
    micro-batches equals the batch qs18 run on the same 64-query
    slice — this query therefore reuses qs18's oracle VERBATIM, and
    the whole streamed lifecycle (store build → stream serve →
    drain) is hash-verified. The query slice spools into two files
    read one per trigger, so the registered query genuinely serves
    multiple batches."""
    from spotify_pipeline_gcp_spark.streaming.incremental import (
        streaming_ann_serving,
    )

    path = ensure_pq_store(spark, sf_dir)
    return streaming_ann_serving(spark, sf_dir, path)
