"""Core relational queries — the reference's operator surface (SURVEY §2)
re-expressed over the driver star schema (FIXTURES.md §F4 mapping).

Each query cites the reference operator IDs it exercises. All are pure
DataFrame plans: filters/projections reach the parquet scan via
Catalyst, joins are broadcast where a side is small, and nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.functions.exprs import complete_year
from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import fixed, sql_fixed, table


def _bag_parts(li: DataFrame) -> DataFrame:
    """A1 analog: sorted CSV bag of part keys per order (see
    operators/playback.py::build_playback_hist for the nested-source original,
    ref ``playback_pipeline.py:161-193``)."""
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("l_partkey").cast("string"))), ","
        ).alias("partkeys"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q00_flagship_pipeline",
    oracle=f"""
    WITH bag AS (
      SELECT l_orderkey,
             string_agg(l_partkey::VARCHAR, ',' ORDER BY l_partkey::VARCHAR) AS partkeys,
             count(*)::BIGINT AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT DISTINCT
      o.o_orderkey, o.o_orderdate, o.o_orderstatus,
      {sql_fixed('o.o_totalprice')} AS total_price,
      {sql_fixed('o.o_totalprice / 1000')} AS total_k,
      b.partkeys, b.n_items
    FROM orders o LEFT JOIN bag b ON o.o_orderkey = b.l_orderkey
    """,
)
def q00_flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's whole clean-zone DAG in one plan.

    Shape-for-shape with ``playback_pipeline.py:270-310`` on the star
    schema: scan -> bag-aggregate (A1, sorted for determinism) ->
    composite left join back to the fact (J1) -> derived rounded
    columns (F1) -> distinct (A2) -> ordered output (O1). The bag is
    one row per order (<= fact rows); at production scale the join is
    a same-key shuffle join on ``o_orderkey`` — no skew, orderkey is
    near-unique — and AQE handles the rest.
    """
    orders = table(spark, sf_dir, "orders")
    bag = _bag_parts(table(spark, sf_dir, "lineitem"))
    return (
        orders.join(bag, orders.o_orderkey == bag.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderstatus",
            fixed(F.col("o_totalprice")).alias("total_price"),
            fixed(F.col("o_totalprice") / 1000).alias("total_k"),
            "partkeys",
            "n_items",
        )
        .dropDuplicates()
        .orderBy("o_orderdate", "o_orderkey")
    )


@register(
    "q01_project_derived",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_quantity,
           {sql_fixed('l_extendedprice * (1 - l_discount)')} AS net_price,
           {sql_fixed('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charged
    FROM lineitem
    """,
)
def q01_project_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P5/F1: projection with derived arithmetic columns
    (ref ``playback_pipeline.py:199-220``)."""
    li = table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        fixed(net).alias("net_price"),
        fixed(net * (1 + F.col("l_tax"))).alias("charged"),
    )


@register(
    "q02_filter_isin",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value > 50.0
    """,
)
def q02_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: IN-list membership + range predicate, pushed to the scan
    (ref ``playback_pipeline_curated.py:99-103`` built this IN-list on
    the driver; here it is a plan predicate)."""
    ev = table(spark, sf_dir, "events")
    return ev.where(
        F.col("event_type").isin("click", "purchase") & (F.col("value") > 50.0)
    ).select("event_id", "user_id", "event_type", "value")


@register(
    "q03_explode_tokens",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
    """,
)
def q03_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: array explode / unnest (ref ``playback_pipeline.py:92``)
    over tokenized document text."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
    )


@register(
    "q04_bag_collect",
    oracle="""
    SELECT l_orderkey,
           string_agg(l_partkey::VARCHAR, ',' ORDER BY l_partkey::VARCHAR) AS partkeys,
           count(*)::BIGINT AS n_items
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q04_bag_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by + sorted list-collect ("bagging"), the reference's
    re-nesting aggregate (``playback_pipeline.py:177-184``) without the
    JSON round-trip. Map-side partial aggregation applies; the sorted
    bag makes output deterministic (the reference's wasn't)."""
    return _bag_parts(table(spark, sf_dir, "lineitem"))


@register(
    "q05_bag_join",
    oracle=f"""
    WITH bag AS (
      SELECT l_orderkey,
             string_agg(l_partkey::VARCHAR, ',' ORDER BY l_partkey::VARCHAR) AS partkeys,
             count(*)::BIGINT AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_orderstatus, {sql_fixed('o.o_totalprice')} AS total_price,
           b.partkeys, b.n_items
    FROM orders o LEFT JOIN bag b ON o.o_orderkey = b.l_orderkey
    """,
)
def q05_bag_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join of fact to re-nested bag
    (ref ``playback_pipeline.py:278-287``)."""
    orders = table(spark, sf_dir, "orders")
    bag = _bag_parts(table(spark, sf_dir, "lineitem"))
    return orders.join(bag, orders.o_orderkey == bag.l_orderkey, "left").select(
        "o_orderkey",
        "o_orderstatus",
        fixed(F.col("o_totalprice")).alias("total_price"),
        "partkeys",
        "n_items",
    )


@register(
    "q06_delta_anti_join",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
    FROM events e
    WHERE e.user_id % 2 = 0
      AND NOT EXISTS (
        SELECT 1 FROM events w
        WHERE w.ts < TIMESTAMP '2024-01-15 00:00:00' AND w.event_id = e.event_id
      )
    """,
)
def q06_delta_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: delta load as a pure left-anti join — rows of the incoming
    batch not already in the warehouse (ref
    ``playback_pipeline_curated.py:89-123``, minus the driver-side
    IN-list collect). See operators/delta.py::delta_append."""
    from spotify_pipeline_gcp_spark.operators.delta import delta_append

    ev = table(spark, sf_dir, "events")
    new_batch = ev.where(F.col("user_id") % 2 == 0)
    warehouse = ev.where(F.col("ts") < "2024-01-15 00:00:00")
    return delta_append(new_batch, warehouse, ["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "q07_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q07_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global distinct (ref ``playback_pipeline.py:309`` et al.) —
    hash aggregate on all columns, partial agg map-side."""
    return table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).dropDuplicates()


@register(
    "q08_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_fixed('sum(l_quantity)')} AS sum_qty,
           {sql_fixed('sum(l_extendedprice)')} AS sum_base_price,
           {sql_fixed('sum(l_extendedprice * (1 - l_discount))')} AS sum_disc_price,
           {sql_fixed('sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))')} AS sum_charge,
           {sql_fixed('avg(l_quantity)')} AS avg_qty,
           {sql_fixed('avg(l_extendedprice)')} AS avg_price,
           {sql_fixed('avg(l_discount)', 4)} AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q08_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter + grouped multi-aggregate. The
    predicate pushes to parquet; aggregation is two-phase hash agg
    (map-side partials), the canonical 100 TB-safe plan."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= "2001-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixed(F.sum("l_quantity")).alias("sum_qty"),
            fixed(F.sum("l_extendedprice")).alias("sum_base_price"),
            fixed(F.sum(disc_price)).alias("sum_disc_price"),
            fixed(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            fixed(F.avg("l_quantity")).alias("avg_qty"),
            fixed(F.avg("l_extendedprice")).alias("avg_price"),
            fixed(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q09_top_orders",
    oracle=f"""
    SELECT o_orderkey, o_custkey, {sql_fixed('o_totalprice')} AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q09_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: global sort + limit. Spark executes TakeOrderedAndProject
    — per-partition top-K then a driver merge of K-sized heaps, never a
    full sort at scale. Tie-broken on the key for determinism."""
    return (
        table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
        .select(
            "o_orderkey", "o_custkey", fixed(F.col("o_totalprice")).alias("total_price")
        )
    )


@register(
    "q10_segment_revenue_topn",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
             {sql_fixed('sum(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT * FROM rev ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q10_segment_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> 3-way join -> grouped
    revenue -> top-N. The filtered customer side is broadcast (post-
    filter it is ~1/5 of an already-small dim); lineitem never
    shuffles until the aggregate."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1998-06-01 00:00:00"
    )
    l = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1998-06-01 00:00:00"
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            fixed(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "q11_window_topk",
    oracle="""
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id)::BIGINT AS rn
    FROM events
    QUALIFY rn <= 3
    """,
)
def q11_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window (SURVEY §2.6 extension; the
    reference has no windows). At scale this is the skew-safe top-K:
    one shuffle on the partition key, no global sort."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "value",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@register(
    "q12_window_running",
    oracle=f"""
    SELECT user_id, event_id, ts,
           {sql_fixed('sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)')} AS running_value
    FROM events
    """,
)
def q12_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (cumulative sum per user ordered by
    time) — the incremental-metrics shape."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "user_id", "event_id", "ts", fixed(F.sum("value").over(w)).alias("running_value")
    )


@register(
    "q13_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q13_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION (distinct). The reference has none (SURVEY §2.8);
    its adhoc backfill loops dates on the driver instead — here
    cross-source consolidation is ``unionByName`` + distinct."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).dropDuplicates()


@register(
    "q14_semi_join",
    oracle=f"""
    SELECT o_orderkey, {sql_fixed('o_totalprice')} AS total_price
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49
    )
    """,
)
def q14_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Complements J2's anti join — same
    physical strategy family, opposite predicate."""
    o = table(spark, sf_dir, "orders")
    big = table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return o.join(big, o.o_orderkey == big.l_orderkey, "left_semi").select(
        "o_orderkey", fixed(F.col("o_totalprice")).alias("total_price")
    )


@register(
    "q15_date_trunc_daily",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           count(*)::BIGINT AS n_events,
           {sql_fixed('sum(value)')} AS sum_value
    FROM events GROUP BY 1
    """,
)
def q15_date_trunc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 analog: timestamp bucketing to daily grain + aggregate —
    the reference's path-per-day layout (``main.py:46``) as a plan op."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        fixed(F.sum("value")).alias("sum_value"),
    )


@register(
    "q16_date_format_monthly",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m') AS month,
           event_type,
           count(*)::BIGINT AS n,
           {sql_fixed('avg(value)')} AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q16_date_format_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: date formatting (ref strftime renderings,
    ``playback_pipeline_curated.py:100,150``) + two-key aggregate."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM").alias("month"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        fixed(F.avg("value")).alias("avg_value"),
    )


@register(
    "q17_json_extract",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           json_extract_string(props, '$.k')::BIGINT AS k
    FROM events
    """,
)
def q17_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 replacement: JSON key extraction as a native expression
    (ref regex-scraping UDF, ``playback_pipeline.py:139-148``)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select("event_id", k.alias("k_str"), k.cast("long").alias("k"))


@register(
    "q18_complete_year",
    oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN year(o_orderdate)::VARCHAR
                  ELSE strftime(o_orderdate, '%Y-%m-%d') END AS release_date
      FROM orders
    )
    SELECT o_orderkey, release_date,
           CASE WHEN length(release_date) = 4 THEN release_date || '-12-31'
                ELSE release_date END AS completed_date
    FROM d
    """,
)
def q18_complete_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 replacement: bare-year date padding as a native expression
    (ref ``udf_complete_year``, ``playback_pipeline.py:151-158``).
    Every 5th order key simulates a year-precision release date."""
    o = table(spark, sf_dir, "orders")
    release = F.when(
        F.col("o_orderkey") % 5 == 0, F.year("o_orderdate").cast("string")
    ).otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    return o.select(
        "o_orderkey",
        release.alias("release_date"),
        complete_year(release).alias("completed_date"),
    )


@register(
    "q19_distinct_count",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey)::BIGINT AS n_suppliers,
           count(DISTINCT l_partkey)::BIGINT AS n_parts,
           count(*)::BIGINT AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q19_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (expand-based two-phase plan in Spark)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "q20_pivot_event_types",
    oracle=f"""
    SELECT user_id,
           {sql_fixed("sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END)")} AS click,
           {sql_fixed("sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END)")} AS view,
           {sql_fixed("sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)")} AS purchase,
           {sql_fixed("sum(CASE WHEN event_type = 'signup' THEN value ELSE 0 END)")} AS signup,
           {sql_fixed("sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END)")} AS error
    FROM events GROUP BY user_id
    """,
)
def q20_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long-to-wide with explicit value list (so no extra
    distinct-values job runs — required at scale)."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.sum("value"))
    )
    return piv.select(
        "user_id", *[fixed(F.coalesce(F.col(t), F.lit(0.0))).alias(t) for t in types]
    )


@register(
    "q21_rollup",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*)::BIGINT AS n,
           {sql_fixed('sum(l_quantity)')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q21_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / rollup — subtotal hierarchy in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), fixed(F.sum("l_quantity")).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@register(
    "q22_regional_revenue",
    oracle=f"""
    SELECT n.n_name,
           {sql_fixed('sum(l.l_extendedprice * (1 - l.l_discount))')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q22_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join + grouped revenue. All dims are
    broadcast (region/nation/customer/supplier are tiny relative to the
    fact); only the lineitem⋈orders join and the final aggregate
    shuffle. This is the plan shape that survives 100 TB."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            fixed(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
    )
