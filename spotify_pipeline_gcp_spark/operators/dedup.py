"""Document deduplication operators — exact and near-dup families.

The reference's only dedup is full-row ``drop_duplicates`` and the
anti-join delta load (SURVEY §2.5 A2, §2.4 J2). A training-data
pipeline needs content dedup at 100 TB; these operators provide the
standard ladder:

- exact: hash-groupBy on a content digest (one shuffle of digests,
  never of payloads);
- n-gram Jaccard: sparse inverted-index self-join on shingles — only
  documents sharing at least one shingle ever meet, so cost tracks
  true overlap, not n²;
- MinHash + LSH banding: constant-size signatures (k digests/doc)
  and band-bucket equi-joins — the 100 TB path, where candidate
  generation is a hash join on band keys and Jaccard verification
  runs only on candidates;
- SimHash: single fingerprint per document; near-dup = small Hamming
  distance, here bucketed by exact fingerprint equality.

All hashing is md5-hex (deterministic, engine-portable), so every
operator is oracle-checkable against ANSI SQL. At production scale
swap md5 for xxhash64 (``F.xxhash64``) — same plans, cheaper CPU.

Scale notes per operator are in the docstrings; the common knobs:
shingles with document-frequency above a cap should be dropped before
the pair join (``max_shingle_df`` on the pair operators) — stop-
shingle filtering caps inverted-list length and is the difference
between a bounded and an n² shuffle on natural text. The testdata
vocabulary is tiny so the cap is not applied in the oracle-checked
defaults (it changes the similarity measure: Jaccard over the
filtered shingle space).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fat-row slice bound for pair-verify sorts: shingle-set rows average
# ~1.5 KB (array of ~50 shingles), so 40k rows ≈ 60 MB per sort slice
# — in-memory for a task's share of executor memory even under full
# concurrency. See minhash_lsh_pairs.
_FAT_ROWS_PER_TASK = 40_000


def _spread(df: DataFrame) -> DataFrame:
    """Parallelize compute-bound hashing on under-split inputs.

    Shingling + salted-md5 signatures are CPU-bound, not IO-bound: a
    small parquet input arriving as one file split would pin ALL
    downstream hashing to one core. If the scan yields fewer
    partitions than the cluster's parallelism, redistribute the
    narrow (id, text) projection — the cheapest payload that exists —
    before the explode. At production scale the input already has
    >= parallelism splits and this is a no-op (no shuffle added);
    ``getNumPartitions`` inspects the plan without running a job.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # len(inputFiles()) is a pure plan inspection (no RDD
        # conversion, no job) but only a LOWER BOUND on scan splits:
        # files larger than maxPartitionBytes split further. So a
        # file count >= target proves the scan is already parallel
        # (skip, no shuffle added); a low file count does NOT prove
        # under-splitting — confirm with the planned partition count
        # (df.rdd.getNumPartitions(): plan→RDD conversion, still no
        # job) before paying for a repartition.
        if len(df.inputFiles()) >= target:
            return df
    except Exception:  # noqa: BLE001 - non-file source / internal API drift
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) rows, single-space tokenization, order preserved
    by position only where a caller requests it."""
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ", -1)).alias("token")
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    Built with higher-order array functions (no Python): tokenize ->
    ``transform(sequence(...))`` sliding window -> explode -> distinct.
    Documents shorter than ``n`` tokens yield no shingles.

    ``distinct=False`` skips the dedup SHUFFLE and emits the raw
    shingle stream — correct for duplicate-insensitive consumers
    (MinHash: min over a multiset == min over its set; the map-side
    combine of the downstream min-aggregation absorbs repeats for
    free). Set-semantics consumers (Jaccard) need the default.
    """
    toks = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ", -1).alias("t"),
    ).where(F.size("t") >= n)
    window_expr = (
        f"transform(sequence(0, size(t) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f't[i + {k}]' for k in range(n))}))"
    )
    out = toks.select("doc_id", F.explode(F.expr(window_expr)).alias("shingle"))
    return out.dropDuplicates() if distinct else out


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct shingle SET per document: (doc_id, sh: array, n_sh).

    Per-document dedup is a row-local property — ``array_distinct``
    inside the row computes it with ZERO shuffle, unlike
    ``shingles(distinct=True)`` whose ``dropDuplicates`` shuffles the
    entire (doc_id, shingle) stream (corpus-sized). Carrying ``n_sh``
    on the row also makes the separate per-doc size aggregate (another
    full shuffle) unnecessary for Jaccard consumers. The array form
    assumes one document's shingle set fits in a task's row buffer —
    true by construction for training-data documents (MBs at most);
    web-scale outliers should be length-truncated upstream.
    """
    toks = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ", -1).alias("t"),
    ).where(F.size("t") >= n)
    window_expr = (
        f"transform(sequence(0, size(t) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f't[i + {k}]' for k in range(n))}))"
    )
    # coalesce makes n_sh provably non-null, so downstream
    # IsNotNull(n_sh) constraints (inferred e.g. from arithmetic in a
    # threshold filter) constant-fold instead of inlining this whole
    # expression tree into a pushed-down Filter (a measured 2x
    # per-row cost on qd3). sh is never null here (the >= n guard).
    return toks.select(
        "doc_id", F.array_distinct(F.expr(window_expr)).alias("sh")
    ).withColumn("n_sh", F.coalesce(F.size("sh"), F.lit(-1)).cast("long"))


def drop_stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    On natural text a handful of boilerplate shingles appear in a
    large fraction of documents; each contributes ~df²/2 rows to the
    pair join and lands on ONE reducer (the join shuffles on the
    shingle string). Capping document frequency bounds every inverted
    list, so the pair join is O(Σ df_i²) with df_i ≤ max_df instead
    of O(hot_df²). The anti-join side (hot shingles) is tiny by
    construction — Catalyst/AQE broadcasts it.

    Note this redefines the similarity measure: Jaccard is then over
    the *filtered* shingle space (standard practice — stop-shingles
    carry no dedup signal, like stopwords in retrieval).
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


# Optimized-plan node names under which an auto-sizing ``count()`` is
# just a (metadata-fast or single-pass) scan, never a re-execution of
# real upstream work. Anything else — joins, aggregates, generates,
# unions — means the probe would silently re-run the whole plan.
_SCAN_CHEAP_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "LocalRelation",
        "InMemoryRelation",
        "Project",
        "Filter",
        "LogicalRDD",
    }
)


def _plan_nodes(tree: str) -> set[str]:
    """Node names in a plan's ``treeString()``."""
    return {
        m.group(1)
        for m in re.finditer(r"^[\s:+\-]*'?([A-Za-z][A-Za-z0-9]*)", tree, re.M)
    }


def _derived_nodes(plan) -> set[str]:
    """Node names of an optimized logical ``plan`` (a JVM plan object)
    outside ``_SCAN_CHEAP_NODES`` — empty exactly when the plan is
    projections/filters over leaf relations."""
    return _plan_nodes(plan.treeString()) - _SCAN_CHEAP_NODES


def _row_count(df: DataFrame) -> int:
    """Exact row count for sizing. A filter-free projection over one
    Parquet relation of local files is counted from the files'
    footers on the driver, with no Spark job (a ``count()`` here is a
    whole job, ~56 ms on a 4-core box, per sizing call); any other
    plan runs ``df.count()``."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    if _plan_nodes(tree) <= {"Project", "Relation"} and re.search(
        r"^\W*Relation \[.*\] parquet$", tree, re.M
    ):
        files = [urlparse(f) for f in df.inputFiles()]
        if files and all(f.scheme == "file" for f in files):
            return sum(
                pq.ParquetFile(unquote(f.path)).metadata.num_rows for f in files
            )
    return df.count()


def _sizing_count(df: DataFrame, op: str) -> int:
    """Row count for slice-bound auto-sizing, GUARDED so it can never
    re-execute a derived plan (r13 verdict item #7): when Catalyst's
    optimized plan contains anything beyond projections/filters over
    leaf relations, the caller must pass ``n_docs`` — any upper bound
    on the row count works, it only sizes the repartition."""
    heavy = _derived_nodes(df._jdf.queryExecution().optimizedPlan())
    if heavy:
        raise ValueError(
            f"{op}: auto-sizing needs a row count, but the input is a "
            f"derived frame (plan nodes {sorted(heavy)}) — counting it "
            "would re-execute the upstream plan. Pass n_docs=<row count "
            "or any upper bound>."
        )
    return _row_count(df)


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Digest groups: (text_hash, keep_id = min id, n_copies).

    One shuffle of (digest, id) pairs; payload bytes never move. At
    100 TB the digest table is ~0.1% of input size.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Surviving rows after exact dedup (keep lowest id per digest)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard.

    Inverted-index join: documents pair only through shared shingles,
    then ``|A∩B| / (|A|+|B|-|A∩B|)``. Output: (doc_a, doc_b, jaccard),
    doc_a < doc_b. The shingle join shuffles on the shingle string —
    at scale pass ``max_shingle_df`` (stop-shingle filter, see
    ``drop_stop_shingles``) so no single inverted list dominates a
    partition.

    Default path: per-doc sets come from ``shingle_sets`` (row-local
    ``array_distinct`` — no corpus-wide distinct shuffle) and the set
    SIZE rides the exploded rows into the pair aggregate as a group
    key, so the whole operator is ONE exchange-producing subplan (the
    exploded posting list, reused for both join sides) plus the pair
    aggregate — no separate sizes aggregate, no post-join size
    lookups. With ``max_shingle_df`` document frequency is a
    corpus-wide property, so the row-based shape with its explicit
    size aggregate is used instead.
    """
    if max_shingle_df is None:
        # explode_outer, deliberately: the >= n-token filter already
        # guarantees a non-empty shingle array, and non-outer explode
        # triggers InferFiltersFromGenerate, which inlines the whole
        # shingling expression tree into pushed-down size()/isnotnull
        # predicates — evaluating the expensive array build ~4x per
        # row per side (measured 2x wall-clock on qd3 at sf0.1).
        # Hash-repartition the posting list by shingle: both join
        # sides then require the SAME exchange, Catalyst's
        # ReuseExchange computes the shingling once and reads it
        # twice — at any corpus size where neither side of a
        # self-join broadcasts, this partitioning is what the join
        # would demand anyway, so it costs nothing at scale and
        # halves the expression work.
        ex = shingle_sets(df, id_col, text_col, n).select(
            "doc_id", "n_sh", F.explode_outer("sh").alias("shingle")
        ).repartition(F.col("shingle"))
        a, b = ex.alias("a"), ex.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        return common.select(
            "doc_a", "doc_b", jac.alias("jaccard")
        ).where(F.col("jaccard") >= threshold)
    # Capped shape: per-doc distinct shingles
    # come ROW-LOCALLY from shingle_sets (the corpus-wide
    # dropDuplicates shuffle of 500M string rows went in r10), and
    # ONE explicit hash-repartition on the shingle feeds the
    # window-based group pass below, so nothing aggregates map-side
    # over each task's ~all-distinct shingle stream while fighting
    # the shuffle sorter for execution memory (the r10
    # UNABLE_TO_ACQUIRE_MEMORY failure shape).
    ex = (
        shingle_sets(df, id_col, text_col, n)
        .select("doc_id", F.explode_outer("sh").alias("shingle"))
        .repartition(F.col("shingle"))
    )
    # Group-local pair generation instead of a posting-list self-join
    # (r13): the self-join shape made the capped posting list a
    # MULTI-consumer subplan (hot-shingle count, anti-join, two join
    # sides, the per-doc size aggregate), and column pruning gives
    # the consumers canonically DIFFERENT exchanges — at the 5 M-doc
    # rung the scan→shingle→explode map chain ran THREE times (~70 s
    # each) and the sizes path re-ran the anti-join twice more (the
    # measured qd8/qd12 260 s profile: >90% pair generation, ~5%
    # closure). Instead, TWO WindowExec passes over the one posting
    # exchange: a bare ``count(*) over (partition by shingle)`` drops
    # over-cap groups in O(group size) with NO array built, then
    # ``collect_list`` over the same partitioning (filter sits
    # between the two Window nodes — exchange and sort planned once)
    # attaches each SURVIVING shingle's inverted list, so the per-row
    # array copy in the window's output projection is bounded by the
    # cap, never by the hottest key,
    # and one representative row per group (the row whose doc_id
    # leads its own docs array) explodes BOTH the ordered pairs AND
    # one singleton row per posting (doc_b NULL) — so a single
    # downstream count yields pair co-occurrence counts and per-doc
    # FILTERED set sizes together. One heavy map chain, one posting
    # exchange + sort, one skinny pair exchange. Jaccard values, the
    # filtered shingle space, and the (doc_a < doc_b) contract are
    # bit-identical to the join shape (the DuckDB oracles replay
    # unchanged; pair order is normalized by VALUE comparison and
    # counts are order-insensitive, so the window's nondeterministic
    # intra-group order cannot leak into the result).
    from pyspark.sql import Window

    id_type = dict(ex.dtypes)["doc_id"]
    w = Window.partitionBy("shingle")
    base = ex.where(F.col("shingle").isNotNull())
    # Cap BEFORE building any array (r14): the r13 shape
    # collect_list'ed EVERY group's full inverted list and only
    # then filtered on size(docs) — for an over-cap boilerplate
    # shingle shared by m docs that materializes O(m²) transient
    # bytes in the window's output projection (each of the m rows
    # copies the m-element array) plus a non-spillable m-element
    # collect_list buffer in one task — the exact hot-key case the
    # cap exists to drop, and the case the old anti-join handled
    # in O(m). A bare count(*) window attaches the group's DF to
    # each row WITHOUT materializing the list, so over-cap groups
    # cost O(m) and are gone before the collect_list window below
    # ever buffers an array (all survivors are ≤ max_df elements).
    # Both windows partition on the same key, so Catalyst places
    # the filter between two WindowExec nodes over ONE
    # exchange+sort (plan-asserted in test_plans).
    base = (
        base.withColumn("df", F.count(F.lit(1)).over(w))
        .where(F.col("df") <= F.lit(max_shingle_df))
        .drop("df")
    )
    aug = base.withColumn("docs", F.collect_list("doc_id").over(w))
    one = aug.where(F.col("doc_id") == F.col("docs")[0])
    pair_rows = F.expr(
        "concat("
        "  flatten(transform(docs, a -> "
        "    filter(transform(docs, b -> "
        "      if(a < b, struct(a AS doc_a, b AS doc_b), null)), "
        "      p -> p IS NOT NULL))), "
        f" transform(docs, d -> struct(d AS doc_a, "
        f"   cast(null AS {id_type}) AS doc_b)))"
    )
    agg = (
        one.select(F.explode(pair_rows).alias("pr"))
        .select("pr.doc_a", "pr.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Attach the per-doc sizes with two WINDOWS over the (small) pair
    # aggregate instead of two self-joins: a join-based assembly makes
    # `agg` a three-consumer subplan, and the isnull/isnotnull filters
    # push BELOW the aggregate — canonically different exchanges, so
    # the whole 250 M-row window chain re-executes per consumer (the
    # residual 2x in the first r13 profile). Keyed windows keep it at
    # ONE consumer: partitioning by coalesce(doc_b, doc_a) co-locates
    # every pair (·, b) with b's singleton size row, and partitioning
    # by doc_a co-locates (a, ·) with a's — two sorts of a
    # pairs+docs-sized table (skinny, |pairs|+|docs| rows) against a
    # full re-run of the posting chain.
    size_of_group = F.max(
        F.when(F.col("doc_b").isNull(), F.col("c"))
    )
    w_b = Window.partitionBy(F.coalesce(F.col("doc_b"), F.col("doc_a")))
    w_a = Window.partitionBy(F.col("doc_a"))
    sized = agg.withColumn("nb", size_of_group.over(w_b)).withColumn(
        "na", size_of_group.over(w_a)
    )
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        sized.where(F.col("doc_b").isNotNull())
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_wide_sliced(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, m0..m{k-1}) with a cheaper hash family: each md5
    digest is sliced into four independent 8-hex-char (32-bit) words,
    so k hashes cost ceil(k/4) md5 calls instead of k. Slicing one
    digest into independent words is the standard trick in minwise-
    hashing implementations; a 2^-32 per-hash collision rate is
    immaterial for LSH candidate generation because verification is
    exact.

    The min-aggregation runs on the NUMERIC value of each slice
    (r12): ``min(string)`` has no mutable fixed-width buffer, so
    Spark plans it as ObjectHashAggregate, which falls back to
    SORT-BASED aggregation after a 128-key in-memory threshold — at
    the 5 M-doc rung that sort held the whole 260 M-row exploded
    shingle stream per task and OOM'd the 4 g executor (the r11/r12
    qd14 failure stack: UTF8String reads inside
    SortBasedAggregationIterator). ``min(long)`` is a plain
    HashAggregate — whole-stage codegen, compact map-side combine,
    no sort. Fixed-length lowercase hex orders EXACTLY like its
    numeric value, so converting slice→long for the min and
    long→8-char hex after the final aggregate reproduces the
    original string signatures bit-for-bit — every downstream
    consumer (band keys, stored band tables, the DuckDB oracles'
    ``min(substr(md5(...)))`` replay) is unchanged."""
    n_md5 = (num_hashes + 3) // 4
    salts = [chr(ord("a") + j) for j in range(n_md5)]
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"_m{j}")
            for j, s in enumerate(salts)
        ],
    )
    sliced = hashed.select(
        "doc_id",
        *[
            F.conv(
                F.substring(f"_m{i // 4}", (i % 4) * 8 + 1, 8), 16, 10
            ).cast("long").alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    agg = sliced.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"n{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "doc_id",
        *[
            F.lpad(F.lower(F.hex(F.col(f"n{i}"))), 8, "0").alias(f"m{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signatures: (doc_id, seed, minhash) — one row per seed.

    The hash family is the SLICED one (``_minhash_wide_sliced``):
    each md5 digest yields four independent 32-bit words, so k hashes
    cost ceil(k/4) md5 calls per shingle instead of k — the dominant
    CPU term of signature generation. Constant output size per
    document regardless of length: this is what makes near-dup
    feasible at 100 TB (signatures table is ~k * 8 bytes/doc).
    Computed wide (one aggregation) and unpivoted to the tall shape
    AFTER the aggregation, when rows = docs, not docs × shingles.
    """
    sh = shingles(df, id_col, text_col, n, distinct=False)
    wide = _minhash_wide_sliced(sh, num_hashes)
    stack = ", ".join(f"{i}, m{i}" for i in range(num_hashes))
    return wide.select(
        "doc_id",
        F.expr(f"stack({num_hashes}, {stack}) AS (seed, minhash)"),
    )


def _band_table(
    sh: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, mh0..mh{r-1}): LSH band keys straight off the
    wide signature row — a projection (stack to num_bands rows/doc),
    NOT a second shuffle. Band b = signature positions
    [b*r, (b+1)*r). Uses the sliced hash family (ceil(k/4) md5
    calls/shingle); candidate quality is equivalent and downstream
    verification is exact regardless."""
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by "
            f"rows_per_band ({rows_per_band}); trailing signature "
            "positions would be silently dropped"
        )
    num_bands = num_hashes // rows_per_band
    wide = _minhash_wide_sliced(sh, num_hashes)
    band_stack = ", ".join(
        f"{b}, " + ", ".join(f"m{b * rows_per_band + r}" for r in range(rows_per_band))
        for b in range(num_bands)
    )
    mh_cols = ", ".join(f"mh{r}" for r in range(rows_per_band))
    return wide.select(
        "doc_id",
        F.expr(f"stack({num_bands}, {band_stack}) AS (band, {mh_cols})"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH banding + exact verification.

    Bands of ``rows_per_band`` signature rows; documents sharing any
    complete band become candidates (hash equi-join on the band key —
    no all-pairs work). Candidate PAIRS are then verified with true
    n-gram Jaccard: per-doc shingle sets (row-local ``array_distinct``
    — no shuffle to build) join onto the pair table and each pair
    scores via ``array_intersect``/``size`` — so pair-scoring cost
    tracks |candidates|, not |co-shingled pairs|. (Joining the full
    inverted-index pair aggregate instead would make LSH prune
    nothing; Catalyst cannot push a candidate join below a pair
    aggregate.) Output: (doc_a, doc_b, jaccard), doc_a < doc_b.

    With k=8, r=2 (4 bands), P(candidate) = 1-(1-j^2)^4 — ~0.99 for
    j=0.9, ~0.22 for j=0.25: high recall at the dedup-relevant end.
    """
    # In the capped branch the shingle row table feeds signatures AND
    # verification sets; recomputing that subplan beats .cache()
    # (cache-write overhead > recompute for a cheap explode/distinct,
    # measured at sf0.1), and caching inside an operator leaks
    # storage across invocations. At much larger inputs, persist sh
    # (and unpersist) at the CALLER, where lifetime is controllable.
    if max_shingle_df is not None:
        # document frequencies need distinct (id, shingle) rows
        sh = drop_stop_shingles(
            shingles(df, id_col, text_col, n), max_shingle_df
        )
    else:
        # min-agg is duplicate-insensitive → skip the distinct shuffle
        sh = shingles(df, id_col, text_col, n, distinct=False)
    # Hash-repartition on the FULL band join key (r10): the candidate
    # self-join otherwise computes the shingle→signature→band subplan
    # on BOTH sides in one stage wave — two concurrent copies of the
    # wide signature aggregate's per-task maps OOM'd the 1000x rung in
    # 4 g. With the explicit exchange both sides demand the same
    # partitioning, ReuseExchange runs the subplan ONCE, and the join
    # reads the one shuffle twice — the ngram_jaccard_pairs
    # discipline, free at any scale where a self-join can't broadcast.
    band = _band_table(sh, num_hashes, rows_per_band).repartition(
        F.col("band"), *[F.col(f"mh{r}") for r in range(rows_per_band)]
    )
    a, b = band.alias("a"), band.alias("b")
    key_eq = (F.col("a.band") == F.col("b.band"))
    for r in range(rows_per_band):
        key_eq = key_eq & (F.col(f"a.mh{r}") == F.col(f"b.mh{r}"))
    candidates = a.join(
        b, key_eq & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).dropDuplicates()
    # Candidate-bounded verification: each candidate PAIR is scored
    # with one ``array_intersect`` of per-doc shingle sets — work is
    # O(corpus) set construction + O(|candidate pairs|) intersections,
    # independent of how many co-shingled non-candidate pairs exist.
    # The candidate table is deliberately referenced exactly ONCE
    # (the verification joins attach sets straight to the pairs), so
    # the shingle→signature→band subplan runs once with no
    # materialization barrier. (An earlier shape semi-joined doc ids
    # out of `candidates` first, which referenced the subplan twice
    # and needed localCheckpoint to avoid double execution — but
    # checkpoint blocks pin block-manager memory for the session
    # lifetime and measurably degraded everything that ran after
    # repeated invocations.)
    if max_shingle_df is None:
        # Set build is row-local (array_distinct) — no shuffle; the
        # verification joins shuffle the sets table by doc id, the
        # same linear cost the semi-join alternative pays.
        sets = shingle_sets(df, id_col, text_col, n).select(
            F.col("doc_id"), F.col("sh").alias("sh_set")
        )
    else:
        # With a stop-shingle cap the verification measure must use
        # the SAME capped shingle space as candidate generation, and
        # document frequencies are corpus-wide — re-collect the
        # capped row table into sets.
        sets = sh.groupBy("doc_id").agg(
            F.collect_set("shingle").alias("sh_set")
        )
    # Slice-bound the pair-scale sort (r12, the qd14 1000x fix class):
    # sets rows carry whole-document shingle ARRAYS (~1.5 KB each), and
    # the verify SMJ sorts them per task. At cluster-width partitioning
    # a 5 M-doc corpus is ~235 MB of fat rows per task — under unified-
    # memory contention (both join sides + 32 concurrent tasks) each
    # sorter gets a few MB, spills dozens of files, and the merge
    # readers' ReadAhead buffers alone can exhaust a 4 g heap (the r11
    # rung death). Hash-repartitioning the sets by doc_id at a
    # corpus-scaled count REPLACES the join's own exchange (same key,
    # so the SMJ reuses it and ReuseExchange still serves both the
    # doc_a and doc_b sides from ONE shuffle) — no extra pass, every
    # sort slice bounded at ~60 MB. Callers that already know the
    # corpus size pass ``n_docs`` and skip the probe entirely (r13,
    # qd14's spool decision counts the same frame); otherwise the
    # probe is allowed ONLY on scan-cheap plans — a derived frame
    # without the hint raises loudly instead of silently re-executing
    # its upstream plan (r14, _sizing_count).
    base_par = df.sparkSession.sparkContext.defaultParallelism
    rows = _sizing_count(df, "minhash_lsh_pairs") if n_docs is None else n_docs
    want = math.ceil(rows / _FAT_ROWS_PER_TASK)
    if want > base_par:
        sets = sets.repartition(want, "doc_id")
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = n_common / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _unpersist_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'s block-manager
    blocks. Checkpoint blocks live until the session ends unless
    freed; in a long-lived session (a query service, this repo's
    bench loop) superseded iteration rounds accumulate and degrade
    everything that runs after. Reaches through the LogicalRDD plan
    node (internal API) — on any failure it degrades to the
    ContextCleaner's GC-driven cleanup, never to an error."""
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def dedup_components(
    pairs: DataFrame,
    node_a: str = "doc_a",
    node_b: str = "doc_b",
    # 40 covers diameter <= 2^40 under pointer doubling (r15 probe: a
    # worst-case 1M-node CHAIN converges in ~21 rounds / 41 s; the
    # old default 20 sat exactly at that graph's requirement). Extra
    # headroom is free — the loop exits the round n_changed hits 0.
    max_iter: int = 40,
) -> DataFrame:
    """Connected components over a near-dup pair graph:
    (doc_id, component) where component = min doc id in the cluster.

    Near-dup PAIRS under-specify dedup policy (keep-one-per-cluster
    needs transitive closure: a~b, b~c ⇒ {a,b,c} is one group even
    when a~c fails the threshold). This computes the closure with
    Pregel-style min-label propagation with POINTER DOUBLING: each
    round every node adopts the minimum label in its neighborhood
    (one edge join + min-agg), then shortcuts through its own label
    (``label <- label[label]`` — one skinny self-join of the label
    table). The shortcut makes label reach double per round, so
    convergence is O(log diameter) rounds instead of O(diameter) —
    the r10 1000x rung hit a >20-diameter chain (1000 same-base
    replicas daisy-chained by near-threshold cross-replica pairs)
    that plain propagation could not close within max_iter; with
    doubling it closes in ~11 rounds. Same fixpoint either way (the
    unique min-label assignment), so qd8/qd10/qd14 oracles replay
    unchanged. The full O(log n) large-star/small-star contraction
    (Kiveris et al., SoCC'14) remains the cite for graphs whose EDGE
    LIST itself needs contraction; here edges are near-dup pairs —
    bounded by the capped candidate generators — and only label
    convergence needed the logarithmic ladder. Measured against the
    pathological case (r14 verdict item #7, r15): a 1M-node worst-
    case CHAIN (diameter 10^6) converges in ~21 rounds / 41 s and a
    1M-node, 2M-edge random graph in 17.7 s at local[32] — each
    round is two skinny label joins, so star-contraction's per-round
    edge shrinkage has nothing to buy at cap-bounded edge volume;
    the rewrite was evaluated with those numbers and NOT adopted.

    Per round the label frame is ``localCheckpoint``-ed: iterative
    plans otherwise grow exponentially deep, and each round's input
    is a bounded (node, label) table — the classic iterate-
    materialize loop. Convergence is detected type-agnostically: the
    new round carries the previous label alongside the new one, and
    a count of rows where they differ (one filter-count over the
    just-materialized checkpoint blocks) hits zero exactly at the
    fixpoint — works for string ids as well as numeric ones, where a
    label-sum check would silently null out under a failed cast.

    Exhausting ``max_iter`` before the fixpoint raises RuntimeError:
    partially-propagated labels are indistinguishable from converged
    output downstream, so truncation must be loud. Near-dup graphs
    converge in O(cluster diameter) rounds (tiny); a graph that
    legitimately needs more rounds should raise ``max_iter`` or use
    the O(log n) star-contraction alternative cited above.

    Checkpoint blocks are DISK_ONLY: the loop's working set (edge
    list + two label frames) must not compete with execution memory —
    with the default deserialized in-memory level, a 10x corpus
    thrashed the collector at small heaps (GC-locker churn in block
    writes) and needed a 16 g driver. Each round reads its
    predecessor's blocks exactly once, so the disk round-trip costs
    far less than the heap pressure it removes; the loop's heap use
    is now O(1) in data size.
    """
    from pyspark import StorageLevel

    disk = StorageLevel.DISK_ONLY
    edges = (
        pairs.select(F.col(node_a).alias("u"), F.col(node_b).alias("v"))
        .union(pairs.select(F.col(node_b).alias("u"), F.col(node_a).alias("v")))
        # materialized once: every round joins against the edge list,
        # and without truncation the whole upstream pair-generation
        # subplan (e.g. an LSH or Jaccard pipeline) would re-execute
        # per iteration
        .localCheckpoint(eager=False, storageLevel=disk)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .dropDuplicates()
        .withColumn("label", F.col("node"))
        .localCheckpoint(storageLevel=disk)
    )
    # `ckpt` tracks the frame that IS the LogicalRDD checkpoint node
    # (release must target it directly — a projection on top would
    # make _unpersist_checkpoint a silent no-op); `labels` is the
    # 2-column view the round logic uses.
    ckpt = labels
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.u, "left"
        ).select(
            "node",
            F.col("label").alias("prev_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )
        # pointer doubling: adopt my label's label (labels decrease
        # monotonically and every label value is a graph node, so the
        # mapping join is total except at component roots)
        lmap = stepped.select(
            F.col("node").alias("pnode"), F.col("label").alias("plabel")
        )
        new_round = (
            stepped.join(lmap, stepped.label == lmap.pnode, "left")
            .select(
                "node",
                "prev_label",
                F.coalesce(F.col("plabel"), F.col("label")).alias("label"),
            )
            .localCheckpoint(storageLevel=disk)  # eager: materialized
            # before the old round is released below
        )
        n_changed = new_round.where(
            F.col("label") != F.col("prev_label")
        ).count()
        _unpersist_checkpoint(ckpt)  # superseded round's blocks
        ckpt = new_round
        labels = new_round.select("node", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        _unpersist_checkpoint(edges)
        raise RuntimeError(
            f"dedup_components did not converge within max_iter={max_iter} "
            "rounds; labels are partially propagated. Raise max_iter (graph "
            "diameter bounds the rounds needed) or switch to star-contraction."
        )
    # The final label table is self-contained (checkpointing truncated
    # its lineage), so the edge list's blocks can be released too.
    # Only the final round's (node, label) blocks outlive the call —
    # they ARE the result.
    _unpersist_checkpoint(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    n_docs: int | None = None,
) -> DataFrame:
    """SimHash fingerprint per document: (doc_id, simhash).

    Bit j of the fingerprint is the sign of the token-weighted sum of
    bit j across token hashes; bit j of a token hash is the parity of
    hex digit j of its md5 (engine-portable bit extraction). Tokens
    count with multiplicity. Fingerprints of near-identical documents
    differ in few bits; ``simhash_pairs`` finds those via bit-band
    LSH + Hamming verification, and exact-equal fingerprints bucket
    aggressive near-dups with a single groupBy at any scale.

    Plan shape: per-bit contributions are computed as sibling columns
    of ONE token row and reduced in ONE groupBy — no bit explode
    (which would multiply shuffle rows ``bits``×) and no second
    aggregation; the map-side combine collapses token rows to one row
    per (partition, doc) before the exchange. Same wide-aggregation
    trick as ``_minhash_wide_sliced``. As of r10 the per-bit counters are
    PACKED 3-per-long into 20-bit lanes: bit j's '1'-count over a
    doc's tokens is non-negative and bounded by the doc's token count
    (< 2^20, guarded by a ``raise_error`` on giant docs), so
    ``ceil(bits/3)+1`` BIGINT sums replace ``bits`` of them —
    fingerprint bit j is then ``2*cnt1_j > n_tok`` (identical to the
    old ±1 sum's ``s_j > 0``). This cut the 60-bit aggregate's
    per-task hash-map state and its codegen expression count ~3-4x:
    the unpacked form OOM'd a 4 g heap at the 1000x rung, where a
    32-way map wave held ~150k docs x 61 longs each (plus scan
    batches), and the packed form fits without any extra exchange.

    Bit extraction: each digest is folded to a 32-char '0'/'1'
    PARITY STRING by ONE ``translate`` pass (hex digit → its value's
    parity), then bit j is a single-char compare. The r9 form ran
    ``instr('0123456789abcdef', substring(h, j, 1))`` per (token,
    bit) — a 16-char scan × 60 bits × every token occurrence; the
    translate fold does the table lookup once per DIGEST and was
    measured 4.7× faster on the fingerprint aggregate at the 10×
    ladder point (2.8 s → 0.6 s; values bit-identical — same parity,
    so qd6/qd9/qd9b oracles and stored fingerprints are unchanged).
    A conv(hex)-then-shift word parse was also A/B'd and is ~30%
    slower than even the instr form — Spark's conv goes through a
    decimal-string round trip.
    """
    if not 1 <= bits <= 63:
        # the fingerprint is packed into a signed BIGINT: 2**j for
        # j >= 63 overflows a long deep inside expression construction
        # instead of failing here at the API boundary.
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    # Sized aggregation parallelism: a map task over D documents holds
    # a ~D x (words+2) x 8 B hash map. The packed lanes keep that tiny
    # at the 1000x rung (~150k docs/task x ~180 B ≈ 27 MB); the
    # repartition below is the backstop for corpora another decade up
    # (200k docs/task budget — only fires when the sized need EXCEEDS
    # the default parallelism, so sub-threshold inputs keep relying on
    # tokenize's _spread and never pay a doc-row shuffle).
    if n_docs is not None:
        parts = n_docs // 200_000
        if parts > df.sparkSession.sparkContext.defaultParallelism:
            df = df.repartition(parts)
    parity = "0101010101010101"  # value parity of hex digits 0..f
    toks = tokenize(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"translate(md5(token), '0123456789abcdef', '{parity}')"
        ).alias("h"),
        # bits 32..59 draw parity from a SALTED second hash — md5 has
        # only 32 hex digits, so one digest carries 32 parity bits;
        # the 'b:' prefix mirrors the minhash oracle convention and
        # keeps bits < 32 (qd6/qd9 and every stored fingerprint)
        # bit-identical to the single-hash form
        *(
            [
                F.expr(
                    "translate(md5('b:' || token),"
                    f" '0123456789abcdef', '{parity}')"
                ).alias("h2")
            ]
            if bits > 32
            else []
        ),
    )

    LANE, PER = 20, 3  # 3 x 20-bit counters per packed BIGINT lane-word

    def _bit(j: int) -> str:
        col, pos = ("h", j + 1) if j < 32 else ("h2", j - 31)
        return (
            f"CAST(CASE WHEN substring({col}, {pos}, 1) = '1'"
            f" THEN 1 ELSE 0 END AS BIGINT)"
        )

    n_words = (bits + PER - 1) // PER

    def _packed(w: int):
        terms = [
            f"({_bit(j)} << {LANE * (j - w * PER)})"
            for j in range(w * PER, min((w + 1) * PER, bits))
        ]
        # per-token word < 2^41; summed over < 2^20 tokens → < 2^61:
        # the packed sum cannot overflow a signed BIGINT
        return F.expr(" + ".join(terms)).alias(f"w{w}")

    per_doc = toks.select(
        "doc_id", *[_packed(w) for w in range(n_words)]
    ).groupBy("doc_id").agg(
        *[F.sum(f"w{w}").alias(f"w{w}") for w in range(n_words)],
        F.count(F.lit(1)).alias("n_tok"),
    )
    mask = (1 << LANE) - 1
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        cnt1 = F.shiftright(
            F.col(f"w{j // PER}"), LANE * (j % PER)
        ).bitwiseAND(F.lit(mask))
        # bit j set iff the ±1 sum is positive: 2*cnt1 - n_tok > 0
        fingerprint = fingerprint + F.when(
            cnt1 * 2 > F.col("n_tok"), F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    guarded = F.when(
        F.col("n_tok") >= F.lit(1 << LANE),
        F.expr(
            "raise_error('simhash: document exceeds 2^20 tokens — "
            "packed counter lanes would overflow; length-truncate "
            "upstream')"
        ).cast("long"),
    ).otherwise(fingerprint)
    return per_doc.select("doc_id", guarded.alias("simhash"))


def simhash_bits_for(
    n_docs: int, bands: int = 4, target_bucket: int = 4
) -> int:
    """Adaptive SimHash width — the ``sign_bits_for`` convention
    applied to the fingerprint LSH: pick the band width ``w`` so a
    typical (band, value) bucket holds ~``target_bucket`` documents
    (2^w ≈ n/target), clamped to w ∈ [8, 15] (bits ∈ [32, 60]; 60
    keeps the fingerprint comfortably inside a signed long for the
    shift/mask banding on BOTH engines). Candidate volume per band is
    then ~n·target — LINEAR in the corpus at any scale, where a FIXED
    width goes quadratic (n²/2^w) and a fixed bucket CAP inverts into
    zero recall once typical buckets exceed it: r9 measured the fixed
    32-bit qd9b returning 0 of ~120k pairs at the 100× ladder point
    because EVERY 8-bit band value held ~195 > cap docs. The formula
    is replayed in SQL by the qd9b oracle (property-pinned to 10^12
    like the ANN sizings)."""
    import math

    w = max(8, min(15, math.ceil(math.log2(max(1, n_docs // target_bucket)))))
    return bands * w


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
    collapse_identical: bool = False,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, found via bit-band
    LSH over the fingerprint: (doc_a, doc_b, hamming), doc_a < doc_b.

    The fingerprint is split into ``bands`` contiguous bit bands
    (shift + mask on the long — a projection, no explode of the
    payload); documents sharing ANY band value become candidates
    (equi-join on (band, value)), then candidates are verified with
    ``bit_count(a ^ b) <= max_hamming``. By pigeonhole, any pair
    within Hamming distance < ``bands`` shares at least one intact
    band, so recall is EXACT for ``max_hamming <= bands - 1`` (the
    default 3 with 4 bands) — this LSH is a lossless prefilter, not
    an approximation, which is what makes the operator oracle-
    checkable: the oracle verifies the same distance over the same
    candidate space and gets the same pairs.

    Scale shape: candidate generation shuffles (doc_id, band, value)
    rows — ``bands`` longs per document, no payload; verification is
    one integer XOR per candidate. Candidates are deliberately NOT
    deduplicated before verification: a pair can match in up to
    ``bands`` bands, but re-verifying a duplicate costs one popcount
    while deduplicating the full candidate stream costs a shuffle of
    every candidate — filtering first shrinks the dedup input to the
    (tiny) surviving pair set (measured 2x on the whole operator at
    sf0.1). One band is ``bits/bands`` wide: widen bands (more bits
    each) to cut candidates, add bands to raise the guaranteed-recall
    Hamming radius.

    Identical-fingerprint clusters (exact or near-exact dups) produce
    their FULL pair set — a c-member clique contributes c·(c-1)/2
    pairs on one band reducer, the quadratic blowup no bucket cap can
    see when c spans many buckets' worth of identical values.
    ``collapse_identical=True`` makes the precondition executable:
    one combinable groupBy keeps the minimum ``doc_id`` per distinct
    fingerprint before banding, so each clique is represented once,
    intra-clique pairs (Hamming 0 among themselves) vanish, and
    cross-clique near-dup pairs survive via the representative.
    Members of a collapsed clique are exact-dup territory — recover
    them with ``dedup_exact``/``keep_best`` upstream (default False
    preserves the full-pair contract qd9's oracle checks).

    ``max_bucket`` drops (band, value) buckets with more members than
    the cap from candidate generation — the fingerprint-level
    stop-shingle filter. A hot bucket contributes ~size²/2 candidate
    rows ON ONE REDUCER (the join shuffles on the band key), so the
    cap bounds the worst-case join the same way ``max_shingle_df``
    bounds the Jaccard inverted lists. The trade is explicit recall
    loss: a pair is missed iff EVERY band it survives in is hot —
    with the lossless-radius guarantee this only affects pairs whose
    intact bands all exceed the cap (boilerplate-dominated regions,
    where near-dup signal is weakest anyway).
    """
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fp = simhash(df, id_col, text_col, bits, n_docs=n_docs)
    if collapse_identical:
        fp = fp.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    # materialize the fingerprint table ONCE (localCheckpoint, the
    # dedup_components pattern): it is consumed by both self-join
    # sides (+ the hot-bucket count when capped), and the token-wide
    # simhash aggregate is the operator's dominant stage — the r9
    # stageprof showed it running twice (2×53 s of qd9b's 110 s at
    # the 100× point; exchange reuse does not survive the differing
    # per-side subtrees). The checkpoint itself is (doc_id, long) —
    # ~16 B/doc, disk-backed, trivially small next to the corpus.
    from pyspark import StorageLevel

    fp = fp.localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    band_vals = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(bands)
        ]
    )
    banded = fp.select(
        "doc_id", "simhash", F.explode(band_vals).alias("p")
    ).select("doc_id", "simhash", F.col("p.band").alias("band"), F.col("p.bv").alias("bv"))
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket)
            .select("band", "bv")
        )
        # tiny by construction (only oversized buckets) — broadcast anti-join
        banded = banded.join(hot, ["band", "bv"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bv") == F.col("b.bv"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.simhash").alias("fp_a"),
        F.col("b.simhash").alias("fp_b"),
    )
    hamming = F.bit_count(
        F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    ).cast("long")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = 32,
    n_probes: int = 64,
    max_corpus: int = 65536,
    n_docs: int | None = None,
    collapse_identical: bool = False,
) -> DataFrame:
    """Measured recall of the capped band-bucket candidate rule
    (qd9b's index) against exact-Hamming ground truth — the qs21/qs29
    eval pattern applied to the SimHash family. Output one row per
    probe document: (doc_id, n_true, n_hits, recall).

    Ground truth is the expensive side by definition, so BOTH sides
    are bounded (the qs21 discipline): the audit corpus is a salted-
    digest sample of ≤ ``max_corpus`` documents (exact-integer unit
    fold, salt 'shc:' — membership is hash-verified by the oracle
    replaying the same fold), and probes are the ``n_probes``
    documents with the smallest 'shp:'-salted digests WITHIN the
    sample (pseudo-random, unbiased, probe ⊆ corpus so both sides
    rank the same sampled universe). The exact pass is then at most
    n_probes × max_corpus popcounts at ANY corpus size.

    The INDEX under audit keeps full-corpus configuration: width =
    ``simhash_bits_for(n_docs)`` (the corpus-size-adaptive sizing
    qd9b ships — so the audit measures the index AS DEPLOYED at this
    scale, not a toy width), and the ``max_bucket`` cap is applied to
    the sampled universe's band buckets. A true neighbor (Hamming ≤
    ``max_hamming``) is RECOVERED iff at least one band it shares
    with the probe survives the cap; with ``max_hamming ≤ bands-1``
    the band filter itself is lossless (pigeonhole), so every miss
    this audit reports is attributable to the CAP — the number the
    r13 narrative ("adaptive threshold tightening plus scale-data
    design") asserted without measuring. Recall is an exact integer
    ratio (n_hits / n_true as one IEEE division; probes with zero
    true neighbors report 1.0), so the metric hash-matches
    cross-engine."""
    from pyspark import StorageLevel

    from spotify_pipeline_gcp_spark.operators.sampling import digest_unit

    n = n_docs if n_docs is not None else _row_count(df)
    bits = simhash_bits_for(n, bands)
    band_width = bits // bands
    mask = (1 << band_width) - 1
    frac = min(1.0, float(max_corpus) / n) if n else 1.0
    samp = (
        df.withColumn(
            "_d",
            F.md5(F.concat(F.lit("shc:"), F.col(id_col).cast("string"))),
        )
        .where(digest_unit("_d") < F.lit(frac))
        .drop("_d")
    )
    fp = simhash(samp, id_col, text_col, bits, n_docs=min(n, max_corpus))
    if collapse_identical:
        # audit the COLLAPSED index (qd9c's candidate rule): each
        # exact-fingerprint clique is represented once (min doc_id),
        # so ground truth, banding, and the cap all range over
        # representatives — the universe the collapsed pairer
        # actually serves. Clique members are exact-dup territory,
        # recovered upstream (see simhash_pairs).
        fp = fp.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    # one fingerprint table, four consumers (probes, corpus side,
    # hot-bucket count, shared-band probe) — checkpoint once, the
    # simhash_pairs pattern; (doc_id, long) rows, ~16 B/doc
    fp = fp.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    probes = (
        fp.withColumn(
            "_p",
            F.md5(F.concat(F.lit("shp:"), F.col("doc_id").cast("string"))),
        )
        .orderBy("_p")
        .limit(n_probes)
        .drop("_p")
    )
    exact = (
        F.broadcast(probes.alias("p"))
        .join(fp.alias("c"), F.col("p.doc_id") != F.col("c.doc_id"))
        .select(
            F.col("p.doc_id").alias("probe_id"),
            F.col("c.doc_id").alias("other_id"),
            F.col("p.simhash").alias("fp_p"),
            F.col("c.simhash").alias("fp_c"),
        )
        .where(
            F.bit_count(F.col("fp_p").bitwiseXOR(F.col("fp_c")))
            <= F.lit(max_hamming)
        )
    )
    bv = lambda c, b: F.shiftright(F.col(c), b * band_width).bitwiseAND(  # noqa: E731
        F.lit(mask)
    )
    banded = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), bv("simhash", b).alias("bv")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("q"),
    ).select(F.col("q.band").alias("band"), F.col("q.bv").alias("bv"))
    hot = (
        banded.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > F.lit(max_bucket))
        .select("band", "bv")
    )
    shared = exact.select(
        "probe_id",
        "other_id",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            bv("fp_p", b).alias("bv"),
                            (bv("fp_p", b) == bv("fp_c", b)).alias("same"),
                        )
                        for b in range(bands)
                    ]
                ),
                lambda s: s["same"],
            )
        ).alias("q"),
    ).select(
        "probe_id", "other_id", F.col("q.band").alias("band"), F.col("q.bv").alias("bv")
    )
    surv = (
        shared.join(hot, ["band", "bv"], "left_anti")
        .select("probe_id", "other_id")
        .dropDuplicates()
    )
    n_true = exact.groupBy("probe_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    n_hits = surv.groupBy("probe_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    t = F.coalesce(F.col("n_true"), F.lit(0).cast("long"))
    h = F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
    return (
        probes.select(F.col("doc_id"))
        .join(n_true, F.col("doc_id") == n_true["probe_id"], "left")
        .drop(n_true["probe_id"])
        .join(n_hits, F.col("doc_id") == n_hits["probe_id"], "left")
        .drop(n_hits["probe_id"])
        .select(
            "doc_id",
            t.alias("n_true"),
            h.alias("n_hits"),
            F.when(t == 0, F.lit(1.0))
            .otherwise(h / t.cast("double"))
            .alias("recall"),
        )
    )


def minhash_lsh_pairs_incremental(
    df_old: DataFrame,
    df_new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup: new-batch documents vs an existing
    corpus, the reference's anti-join delta semantic
    (``playback_pipeline_curated.py:110``) lifted from exact-key to
    NEAR-duplicate matching. Output: (doc_old, doc_new, jaccard).

    The band join is old × new only — never old × old, so per-batch
    cost is O(|new| + matching band buckets), not a re-pairing of the
    corpus. This is the shape that matters operationally at 100 TB:
    the existing corpus's signatures and band keys are computed ONCE
    and stored (k × 8 bytes/doc — here they are derived inline from
    the old frame, but the operator only touches the old side's BAND
    TABLE and shingle sets, exactly what a signature store would
    serve); each daily batch streams new band keys against the stored
    buckets. Verification is candidate-bounded exact Jaccard, same as
    ``minhash_lsh_pairs``.
    """
    sh_old = shingles(df_old, id_col, text_col, n, distinct=False)
    stored_bands = _band_table(sh_old, num_hashes, rows_per_band)
    stored_sets = shingle_sets(df_old, id_col, text_col, n)
    return near_dup_vs_band_store(
        stored_bands,
        stored_sets,
        df_new,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
        threshold=threshold,
    )


def near_dup_vs_band_store(
    stored_bands: DataFrame,
    stored_sets: DataFrame,
    df_new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """One incremental-near-dup batch against a PRE-BUILT corpus
    signature store: ``stored_bands`` is ``_band_table`` output
    (doc_id, band, mh0..mh{r-1}) and ``stored_sets`` is
    ``shingle_sets`` output (doc_id, sh, n_sh) for the existing
    corpus — both computed ONCE and persisted (the signature store a
    production ingest keeps), so per-batch work is new-side hashing
    plus the band bucket join. This is the unit of work
    ``streaming/incremental.py::streaming_incremental_near_dup`` runs
    per micro-batch; ``minhash_lsh_pairs_incremental`` derives the
    store inline for the batch-only shape. Output:
    (doc_old, doc_new, jaccard >= threshold).
    """
    bo = stored_bands.alias("o")
    bn = _band_table(
        shingles(df_new, id_col, text_col, n, distinct=False),
        num_hashes,
        rows_per_band,
    ).alias("nw")
    key_eq = (F.col("o.band") == F.col("nw.band"))
    for r in range(rows_per_band):
        key_eq = key_eq & (F.col(f"o.mh{r}") == F.col(f"nw.mh{r}"))
    candidates = (
        bo.join(bn, key_eq)
        .select(
            F.col("o.doc_id").alias("doc_old"),
            F.col("nw.doc_id").alias("doc_new"),
        )
        .dropDuplicates()
    )
    # Candidate-BOUNDED verification (r12 — the qst5 1000x fix): the
    # shingle-set tables carry whole-document arrays, and joining the
    # full corpus-sized store into the pair table shuffled ~10 GB of
    # fat rows per batch — the measured 4 g executor death at 5 M
    # docs (r11 rung). Candidates here are O(|micro-batch|) by the
    # LSH bound, so their DISTINCT IDS broadcast (ids only, 8 B
    # each), semi-joins prune BOTH set tables scan-side (no fat row
    # ever shuffles except the ≤|candidates| survivors), and the
    # three references to `candidates` all read the ONE reused
    # band-join exchange. Same convention as the ANN serving batch
    # (qs20): the DELTA is the bounded unit — a corpus-sized batch
    # must be split upstream.
    old_ids = candidates.select(F.col("doc_old").alias("doc_id")).dropDuplicates()
    new_ids = candidates.select(F.col("doc_new").alias("doc_id")).dropDuplicates()
    so = stored_sets.join(F.broadcast(old_ids), "doc_id", "left_semi").select(
        F.col("doc_id").alias("doc_old"), F.col("sh").alias("sh_o")
    )
    sn = shingle_sets(df_new, id_col, text_col, n).join(
        F.broadcast(new_ids), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("doc_new"), F.col("sh").alias("sh_n"))
    n_common = F.size(F.array_intersect(F.col("sh_o"), F.col("sh_n")))
    jac = n_common / (F.size("sh_o") + F.size("sh_n") - n_common)
    return (
        candidates.join(so, "doc_old")
        .join(sn, "doc_new")
        .select("doc_old", "doc_new", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def keep_best_per_cluster(
    components: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Dedup POLICY: per near-dup cluster, keep the highest-scoring
    member (ties → lowest id): (component, keep_id, n_members,
    best_score). ``components`` is ``dedup_components`` output;
    ``scores`` any (id, score) frame — quality scores, recency, a
    trained ranker.

    Keep-min-id (the ``exact_dedup`` default) is arbitrary; real
    curation keeps the BEST copy. The argmax is a partial-aggregable
    ``min(struct(-score, id))`` — one exchange of (component,
    partial-min) rows, no ranking window, same trick as the k-means
    assignment. Negating the NUMERIC score (not the id) makes the
    tie-break type-agnostic: string doc ids order lexicographically
    inside the struct min, matching ``dedup_components``' string-id
    support. Pass a deterministic score (integer-derived or
    fixed-point rounded) so the keeper is reproducible across
    engines and retries.
    """
    joined = components.join(
        scores.select(F.col(id_col), F.col(score_col)), on=id_col
    )
    agg = joined.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col(score_col)).alias("ns"), F.col(id_col).alias("kid")
            )
        ).alias("best"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        "component",
        F.col("best.kid").alias("keep_id"),
        "n_members",
        (-F.col("best.ns")).alias("best_score"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = 8,
) -> DataFrame:
    """Exact duplicated-SPAN detection — the substring-level dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), re-expressed for Spark: their suffix-array
    scan finds every ≥w-token span that appears twice anywhere in the
    corpus; the equivalent declarative shape is (1) every w-token
    window per document as (doc, pos, md5(window)) rows, (2) the
    occurrence count per window key as ``count() OVER (PARTITION BY
    wkey)`` — repeats WITHIN a document count, so self-repetition is
    caught too — keeping positions ≥2, and (3) a per-document merge
    of consecutive duplicated positions into MAXIMAL spans via the
    islands trick (pos − row_number is constant on a consecutive
    run).

    Output: (doc_id, span_start, span_end, n_tokens, n_windows) —
    1-based token interval [span_start, span_end], one row per
    maximal duplicated span, ordered nowhere (callers sort). A span
    of n_windows consecutive duplicated windows covers
    n_windows + w − 1 tokens.

    Scale: LINEAR by construction — unlike every pairing operator
    (qd3/qd5/qd9) this never joins documents to documents; the only
    corpus-wide op is ONE shuffle of the window stream on the md5 key
    (uniform by construction; a boilerplate phrase occurring 10^6
    times is 10^6 linear rows in one sort partition, never 10^12
    pairs). The per-document islands window then sorts only each
    doc's duplicated positions.
    Tokens are \\s+ runs (text normalized like ``contamination_pairs``).
    """
    from pyspark.sql import Window as W

    toks = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("doc_id"),
        F.split(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ", -1
        ).alias("t"),
    ).where(F.size("t") >= w)
    window_expr = (
        f"transform(sequence(1, size(t) - {w - 1}), "
        f"i -> struct(i as pos, md5(concat_ws(' ', "
        f"{', '.join(f't[i + {k} - 1]' for k in range(w))})) as wkey))"
    )
    wins = toks.select(
        "doc_id", F.explode(F.expr(window_expr)).alias("pw")
    ).select(
        "doc_id", F.col("pw.pos").alias("pos"), F.col("pw.wkey").alias("wkey")
    )
    # the duplication mark is a COUNT OVER (PARTITION BY wkey), not a
    # count-aggregate + semi-join back: the aggregate form plans the
    # corpus window stream TWICE (column pruning gives the two
    # consumers different subplans, defeating ReuseExchange — read
    # off the executed plan), while the window form tokenizes,
    # hashes, and shuffles the corpus exactly once
    dup_pos = (
        wins.withColumn(
            "n_occ", F.count(F.lit(1)).over(W.partitionBy("wkey"))
        )
        .where(F.col("n_occ") >= 2)
        .drop("n_occ", "wkey")
    )
    grp = (
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos"))
    ).alias("grp")
    return (
        dup_pos.select("doc_id", "pos", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_tokens"),
            F.col("n_windows").cast("long").alias("n_windows"),
        )
    )
