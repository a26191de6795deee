"""Plan-shape assertions: the properties that make queries survive
100 TB, checked structurally (they cannot regress silently)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.plans.inspect import (
    codegen_spans,
    exchange_count,
    join_strategies,
    pushed_filters,
    read_schemas,
)
from spotify_pipeline_gcp_spark.queries import load_all

SF = "/root/testdata/sf0.01"


def _q(spark, name):
    return load_all()[name].fn(spark, SF)


def test_plan_helpers_unchanged_by_an_action(spark):
    # after an action the frame's adaptive plan prints the final AND
    # the initial plan; every helper must still read one plan, so a
    # plan-shape assert means the same on a frame that already ran
    li = spark.read.parquet(f"{SF}/lineitem.parquet").where(
        F.col("l_quantity") > 10
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    df = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    helpers = (exchange_count, join_strategies, pushed_filters, read_schemas)
    before = [h(df) for h in helpers]
    df.collect()
    assert [h(df) for h in helpers] == before
    assert before[0] == 1 and before[1] and before[2], before
    # codegen regions exist only in the executed plan
    assert codegen_spans(df) > 0


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "q08_pricing_summary")
    pf = pushed_filters(df)
    assert any("l_shipdate" in p for p in pf), pf


def test_column_pruning(spark):
    df = _q(spark, "q01_project_derived")
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # only the 6 referenced columns are read, not all 11
    assert schemas[0].count(":") == 6, schemas[0]
    assert "l_shipdate" not in schemas[0]


def test_dim_joins_broadcast(spark):
    # q10: filtered customer dim must broadcast; the fact side must
    # never be the build side of a shuffle join
    strategies = join_strategies(_q(spark, "q10_segment_revenue_topn"))
    assert "BroadcastHashJoin" in strategies
    # q22: all four dims broadcast; only lineitem⋈orders may shuffle
    s22 = join_strategies(_q(spark, "q22_regional_revenue"))
    assert s22.count("BroadcastHashJoin") >= 4


def test_anti_join_is_distributed(spark):
    # delta load compiles to a real anti join, not a collected IN-list
    plan_joins = join_strategies(_q(spark, "q06_delta_anti_join"))
    assert plan_joins, "expected a join operator for the anti join"


def test_single_pass_text_ops_have_no_shuffle(spark):
    # quality scoring is a pure projection: zero exchanges
    assert exchange_count(_q(spark, "qt2_quality_score")) == 0
    assert exchange_count(_q(spark, "qt3_token_stats")) == 0


def test_bag_aggregate_single_shuffle(spark):
    # groupBy bagging needs exactly one exchange (partial -> final)
    assert exchange_count(_q(spark, "q04_bag_collect")) == 1


def test_hash_sample_zero_shuffle_and_pruned(spark):
    # digest-threshold sampling is a pure filter: no exchange, and
    # only the projected columns are read
    df = _q(spark, "qsp1_hash_sample")
    assert exchange_count(df) == 0
    schemas = read_schemas(df)
    assert all("text" not in s for s in schemas), schemas


def test_partition_ready_flagship_no_range_exchange(spark):
    # q44 must hash-repartition, never range-sort globally
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q(spark, "q44_flagship_partition_ready")).lower()
    assert "rangepartitioning" not in plan, "global sort leaked back in"
    assert "hashpartitioning(o_orderdate" in plan


def test_corpus_prep_minimal_exchanges(spark):
    # full corpus-prep DAG: dedup payload shuffle + digest agg +
    # final rollup — filter and split stages must add NO exchange
    assert exchange_count(_q(spark, "qp1_corpus_prep")) <= 4


def test_lsh_verification_has_no_pair_aggregate(spark):
    # qd5's verification must score candidate pairs via array
    # intersection, NOT re-aggregate all co-shingled pairs: exactly
    # one count-style aggregate pattern (the signature min-agg),
    # and an array_intersect in the projection
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q(spark, "qd5_minhash_lsh_pairs")).lower()
    assert "array_intersect" in plan


def test_simhash_no_bit_explode(spark):
    # the fingerprint is a single wide aggregation: the only Generate
    # in the plan is the token split, never a per-bit sequence
    # explode (which would multiply shuffle rows by the bit count)
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    import re

    plan = formatted_plan(_q(spark, "qd6_simhash"))
    assert "sequence(" not in plan, "per-bit explode leaked back into simhash"
    # one Generate node (the token split) — formatted mode prints
    # each node once in the tree and once in the detail section
    assert len(re.findall(r"\(\d+\) Generate", plan)) <= 1


def test_simhash_pairs_band_join_carries_no_text(spark):
    # the band self-join moves (doc_id, simhash, band, bv) longs
    # only; document text must not survive past the fingerprint
    # aggregation into the join shuffle
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q(spark, "qd9_simhash_pairs"))
    # band candidate generation is an equi-join on (band, bv) — any
    # strategy (AQE broadcasts at toy SF; at scale it shuffles on the
    # band key either way)
    assert "Join" in plan and "band" in plan
    assert "bit_count" in plan  # verification is the integer kernel


def test_ivf_kmeans_search_reuses_assignment(spark):
    # the self-join's two sides must share one exchange (ReuseExchange):
    # the assignment subplan is computed once, not per side
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    # AQE's pre-execution explain hides exchange reuse (it resolves
    # to stage reuse at runtime); the static plan shows it directly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = formatted_plan(_q(spark, "qs7_cosine_topk_ivf_kmeans"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, "assignment subplan computed twice"


def test_capped_jaccard_single_scan_window_cap(spark):
    # r14 shape: the whole pair generator reads the corpus through
    # ONE scan (the r12 self-join shape re-ran the scan→shingle map
    # chain three times under column pruning), no anti-join or
    # IN-list exists, and the stop-shingle cap is a bare count(*)
    # window BEFORE the collect_list window — over-cap inverted lists
    # are dropped without ever being materialized as arrays. Four
    # Window nodes total: count-cap, collect_list, and the two keyed
    # sizing windows over the pair aggregate.
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q(spark, "qd3b_ngram_jaccard_capped"))
    # count the unambiguous detail marker, not the bare node-name
    # substring (formatting-change-proof: one per scan by contract)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    assert plan.count("Window (") == 4, plan
    assert "LeftAnti" not in plan


def test_single_chain_operators_scan_once(spark):
    # the r13 multi-consumer lesson as a standing guard: these
    # operators are single-chain by design — every one reads its
    # corpus through exactly ONE scan node. A second scan appearing
    # means a new consumer split the plan (column pruning makes
    # same-looking consumers canonically different exchanges, which
    # AQE's exchange reuse cannot merge — each re-executes the whole
    # map chain; the qd8 260 s -> 56 s class).
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    single_chain = [
        "qd4_minhash_signatures",
        "qd6_simhash",
        "qd13_duplicated_spans",
        "qt2_quality_score",
        "qt4_fingerprint",
    ]
    for name in single_chain:
        plan = formatted_plan(_q(spark, name))
        n = plan.count("Location: InMemoryFileIndex")
        assert n == 1, f"{name}: {n} scan nodes"


def test_stratified_sample_zero_shuffle(spark):
    # stratified membership is a row-local predicate: no exchange
    assert exchange_count(_q(spark, "qsp3_stratified_sample")) == 0


def test_shard_packing_single_partition_only_on_block_aggregates(spark):
    # the two-level prefix sum may globally order ONLY the tiny
    # block-sum table: exactly one SinglePartition exchange, and the
    # per-document work stays hash-distributed
    from spotify_pipeline_gcp_spark.plans.inspect import formatted_plan

    plan = formatted_plan(_q(spark, "qp2_token_shard_packing"))
    assert plan.count("SinglePartition") == 1, plan.count("SinglePartition")


def test_multimodal_kernels_no_shuffle(spark):
    # mapInPandas media kernels are partition-local: fan-out (frames)
    # and per-payload features add NO exchange over the scan
    assert exchange_count(_q(spark, "qm3_payload_features")) == 0
    assert exchange_count(_q(spark, "qm4_frame_sample")) == 0


def test_kmeans_training_mean_is_distributed(spark):
    # the trainer's cell-mean update must never pack a cluster's
    # member vectors into one aggregation row (the 100x-scale OOM):
    # no collect_list over the unit-vector array in the training
    # plan — the only collect_list is the O(d) (pos, mean) assembly
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _cell_means,
        _unit_vectors,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    emb = table(spark, SF, "embeddings")
    pts = _unit_vectors(emb, "vec_id", "embedding").withColumn(
        "cid", (F.col("id") % 4).cast("long")
    )
    means = _cell_means(pts, "cid")
    plan = means._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array(collect_list" not in plan
    assert "collect_list(u" not in plan
    # the positional explode IS the distributed shape
    assert "posexplode" in plan
    # partial (map-side) aggregation survives: quantized sums are
    # plain sum/count aggregates, combinable before the exchange
    phys = means._jdf.queryExecution().executedPlan().toString()
    # 'HashAggregate' alone appears in ANY hash aggregate, combinable
    # or not — require the partial_sum marker specifically so a
    # regression to a non-combinable aggregate fails. (An
    # ObjectHashAggregate still appears downstream for the O(d)
    # (pos, mean) assembly — that one is fine; the sums are not.)
    assert "partial_sum" in phys, phys


def test_multiprobe_ivf_scores_once(spark):
    # qs11's database-side assignment is probe rank 1 of the SAME
    # ranked-probes subplan as the query side — after execution the
    # adaptive plan must show the shared cid exchange REUSED, i.e.
    # the n*k point-x-centroid scoring ran once, not twice
    df = _q(spark, "qs11_cosine_topk_ivf_kmeans_multiprobe")
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in phys, phys


def test_imi_assign_single_pass_no_corpus_shuffle(spark):
    # qs17's double assignment must be ONE broadcast-scored
    # aggregation: no SortMergeJoin anywhere in the assignment
    # subplan, and the corpus must not be self-joined on id to merge
    # the two half-assignments
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        imi_assign,
        kmeans_centroids_on,
    )
    from spotify_pipeline_gcp_spark.queries.compat import table

    emb = table(spark, SF, "embeddings")
    pts = _unit_vectors(emb, "vec_id", "embedding")
    h1 = pts.select("id", F.slice("u", 1, 32).alias("u"))
    h2 = pts.select("id", F.slice("u", 33, 32).alias("u"))
    c1 = kmeans_centroids_on(h1, k=2, n_iter=1)
    c2 = kmeans_centroids_on(h2, k=2, n_iter=1)
    asg = imi_assign(pts, c1, c2, 32)
    phys = asg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in phys or "BroadcastExchange" in phys
    assert "SortMergeJoin" not in phys, phys
    # both argmaxes are partial-aggregable (map-side combine)
    assert "partial_max" in phys, phys


def test_pq_adc_broadcasts_table_not_corpus(spark):
    # qs18's ADC pairing must broadcast the folded per-query lookup
    # tables (64 rows) against the streaming corpus code column — the
    # corpus is never exploded, never hash-aggregated; and the
    # rank<=k filter must infer a PARTIAL WindowGroupLimit so each
    # map task ships only its local top-k per query into the
    # window's exchange
    df = _q(spark, "qs18_pq_adc_topk")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in phys, phys
    assert "WindowGroupLimit" in phys, phys
    assert phys.count("Partial") >= 1, phys


def test_duplicated_spans_single_pass_no_joins(spark):
    # qd13 is linear by construction: the corpus window stream is
    # tokenized, hashed, and shuffled exactly ONCE (the wkey count is
    # a window function, not an aggregate + join back — the join form
    # planned the stream twice), and there is no join of any kind
    df = _q(spark, "qd13_duplicated_spans")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in phys, phys
    assert phys.count("Generate explode") == 1, phys
    # exactly two shuffles: wkey-count window, then doc_id islands
    # window (the final span aggregate reuses the doc_id partitioning)
    assert phys.count("Exchange hashpartitioning") == 2, phys


def test_hybrid_rrf_both_rankers_candidate_bounded(spark):
    # qs20: both rankers must broadcast the QUERY side and generate
    # candidates through equi-joins (sized sign-bucket for semantic,
    # gram collision for lexical) — never a nested-loop or cartesian
    # scoring of |Q| x corpus
    df = _q(spark, "qs20_hybrid_rrf")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in phys, phys
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastHashJoin" in phys, phys


def test_ngram_lm_counts_are_partial_aggregates(spark):
    # qt10: both count tables must partial-aggregate map-side before
    # shuffling (combinable counts, not raw gram streams)
    df = _q(spark, "qt10_ngram_lm_score")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in phys, phys
    assert "CartesianProduct" not in phys, phys


def test_temperature_plan_corpus_never_shuffles(spark):
    # qsp5: the corpus sees one combinable count per domain and one
    # row-local keep predicate under a broadcast plan join — no
    # repartitioning of document rows themselves
    df = _q(spark, "qsp5_temperature_resample")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in phys, phys
    # every hash-exchange is on the tiny per-domain aggregates
    # (source keys), never on doc_id
    import re
    for m in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", phys):
        assert "doc_id" not in m, m


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Spark's runtime bloom-filter join reduction (on by default in
    this engine's session) injects a might_contain predicate on the
    FACT side of a selective fact⋈dim shuffle join — at 100 TB this
    is the semi-join reduction that drops most fact rows before the
    shuffle. The 10 GB application-side threshold exists so small
    scans skip the overhead; the test lowers it to simulate the
    at-scale condition and asserts both the injection and that
    results are unchanged."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    join = lambda: (  # noqa: E731
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    baseline = join().collect()
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        filtered = join()
        phys = filtered._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower(), phys
        assert filtered.collect() == baseline
    finally:
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_export_manifest_single_corpus_shuffle(spark):
    # qp5: the corpus payload crosses the wire exactly once (the
    # dedup digest semi-join); decontamination must be a broadcast
    # gram join and the manifest a combinable aggregate
    df = _q(spark, "qp5_export_manifest")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastHashJoin" in phys, phys
    assert "partial_count" in phys, phys  # manifest combines map-side


def test_near_dup_export_loser_list_broadcasts(spark):
    # qd14: marking dropped docs must not shuffle the corpus — the
    # loser list (multi-doc cluster members, << n) joins the corpus
    # as the BROADCAST build side of a LeftOuter hash join
    df = _q(spark, "qd14_near_dup_export")
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastHashJoin LeftOuter" in phys or (
        "BroadcastHashJoin" in phys and "LeftOuter" in phys
    ), phys


def test_streaming_static_enrich_microbatch_broadcasts(spark):
    # qst3: the registered callable returns the drained memory sink,
    # so the streaming shape is asserted on the CAPTURED micro-batch
    # plan (streaming/lastplan.py, recorded at stream completion):
    # the static customer dim must enter every micro-batch as a
    # broadcast hash join, with a stateful aggregate above it and no
    # shuffle of the stream side into the join.
    from spotify_pipeline_gcp_spark.streaming import lastplan

    _q(spark, "qst3_streaming_static_enrich").collect()
    plan = lastplan.get()
    assert plan, "no micro-batch plan captured"
    assert "BroadcastHashJoin" in plan, plan
    m = lastplan.text_metrics(plan)
    assert "BroadcastHashJoin" in m["joins"]
    assert any("StateStore" in s for s in m["stateful"]), m


def test_streaming_sessionize_microbatch_uses_session_store(spark):
    # qst2: the executed micro-batch must run the session-window
    # state store (the native streaming sessionizer), not a batch
    # window rewrite.
    from spotify_pipeline_gcp_spark.streaming import lastplan

    _q(spark, "qst2_streaming_sessionize").collect()
    plan = lastplan.get()
    assert plan, "no micro-batch plan captured"
    assert "SessionWindowStateStore" in plan, plan
