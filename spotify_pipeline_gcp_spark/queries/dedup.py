"""Deduplication queries (operators/dedup.py) with DuckDB oracles.

Oracle SQL mirrors each Spark plan step-for-step in portable ANSI
constructs; hashing is md5-hex in both engines, so values match
exactly. DuckDB list indexing is 1-based and Spark's is 0-based —
the shingle windows account for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.dedup import (
    _row_count,
    dedup_components,
    duplicated_spans,
    exact_dedup,
    exact_dedup_groups,
    keep_best_per_cluster,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_bits_for,
    simhash_pairs,
    simhash_recall_audit,
)
from spotify_pipeline_gcp_spark.operators.text import quality_score
from spotify_pipeline_gcp_spark.queries import register
from spotify_pipeline_gcp_spark.queries.compat import (
    QA,
    SIZED_BITS_SQL,
    SIZED_BUCKET_CAP,
    UNIT_FOLD,
    fixed,
    table,
)

# Corpus size above which qd14 spools its pair table to parquet
# between generation and closure (splits the two memory peaks — see
# qd14's inline comment). Below it the spool is pure fixed overhead.
_SPOOL_MIN_DOCS = 100_000


def _indent(sql: str, pad: str) -> str:
    """``sql``, written at the oracles' 4-space base like every CTE
    below, with its continuation lines re-based to ``pad``."""
    return sql.replace("\n    ", "\n" + pad)


def _shingle_ctes(tok: str = "tok", sh: str = "shingle", src: str = "documents") -> str:
    """Word-3 shingles of ``src`` (1-based list indexing): token lists
    ``tok`` and distinct (doc_id, shingle) rows ``sh`` — the oracle
    side of ``operators/dedup.py::shingles``."""
    return f"""{tok} AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
    {sh} AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      FROM {tok} WHERE len(t) >= 3
    )"""


# the closing ratio of exact Jaccard over `sizes` and `common`
_JAC_SELECT = """SELECT doc_a, doc_b,
           n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b"""


def _jaccard_ctes(capped: bool = False, jac: bool = True) -> str:
    """Exact Jaccard over the `shingle` rows: per-doc set sizes, pair
    overlaps and (``jac``) the ratio. ``capped`` first drops every
    shingle held by more than 4 documents (`hot`, `kept`) — the
    ``max_shingle_df=4`` cap of ``ngram_jaccard_pairs``."""
    cap = """hot AS (SELECT shingle FROM shingle GROUP BY shingle HAVING count(*) > 4),
    kept AS (
      SELECT s.doc_id, s.shingle
      FROM shingle s ANTI JOIN hot h ON s.shingle = h.shingle
    ),
    """ if capped else ""
    src = "kept" if capped else "shingle"
    out = f"""{cap}sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM {src} GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_common
      FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""
    if jac:
        out += f",\n    jac AS (\n      {_indent(_JAC_SELECT, '      ')}\n    )"
    return out


# The shared prefixes at a 2-space base: word-3 shingles, then exact
# Jaccard (`jac`) over all of them or over the capped ones.
SHINGLE_CTE = f"\n  {_indent(_shingle_ctes(), '  ')}\n"
JACCARD_CTE = f"\n  {SHINGLE_CTE},\n  {_indent(_jaccard_ctes(), '  ')}\n"
JACCARD_CAPPED_CTE = f"\n  {SHINGLE_CTE},\n  {_indent(_jaccard_ctes(capped=True), '  ')}\n"

# The sliced MinHash family (``operators/dedup.py::_minhash_wide_sliced``):
# hash ``seed`` of a shingle is 32-bit word ``seed % 4`` of its md5
# salted 'a:' (seeds 0-3) or 'b:' (seeds 4-7), as 8 hex digits.
_SLICED_WORD = """substr(md5((CASE WHEN seed < 4 THEN 'a:' ELSE 'b:' END) || shingle),
                    ((seed % 4) * 8 + 1)::INT, 8)"""
_SEEDS = "CROSS JOIN (SELECT unnest(range(8)) AS seed)"


def _sig_cte(name: str, sh: str) -> str:
    """CTE ``name``: the 8 MinHash values of each document of ``sh``."""
    return f"""{name} AS (
      SELECT doc_id, seed,
             min({_indent(_SLICED_WORD, '        ')}) AS minhash
      FROM {sh} {_SEEDS}
      GROUP BY doc_id, seed
    )"""


def _band_cte(name: str, sig: str) -> str:
    """CTE ``name``: the signatures ``sig`` as 4 bands of 2 rows."""
    return f"""{name} AS (
      SELECT doc_id, seed // 2 AS band,
             min(CASE WHEN seed % 2 = 0 THEN minhash END) AS mh0,
             min(CASE WHEN seed % 2 = 1 THEN minhash END) AS mh1
      FROM {sig} GROUP BY doc_id, band
    )"""


# MinHash-LSH candidates over the `shingle` rows: documents sharing a
# whole band (qd5, qd14)
_LSH_CTES = f"""{_sig_cte("sigs", "shingle")},
    {_band_cte("bands", "sigs")},
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.mh0 = b.mh0 AND a.mh1 = b.mh1
                   AND a.doc_id < b.doc_id
    )"""


def _closure_ctes(np: str) -> str:
    """The oracle side of ``dedup_components`` (needs ``WITH
    RECURSIVE``): the pair CTE `np` (doc_a, doc_b) as undirected
    `edges`, and the label `walk` that reaches every (node, label) of
    a component; a node's component is its minimum label."""
    return f"""np AS {np},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM np
      UNION ALL SELECT doc_b, doc_a FROM np
    ),
    walk(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
    )"""


_NP_JAC = "(SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.8)"
_COMP_CTE = "comp AS (SELECT node AS doc_id, min(label) AS component FROM walk GROUP BY node)"


def _quality_ctes(feats: str, q: str) -> str:
    """The oracle side of ``operators/text.py::quality_score``: the
    per-document features `feats` and the score `q` (doc_id, q_r),
    fixed-point rounded at 6 digits."""
    return f"""{feats} AS (
      SELECT doc_id,
             length(text)::BIGINT AS n_chars_calc,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','a','of','and','to','in','is','it')))::BIGINT AS stop_hits,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digit_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::BIGINT AS punct_chars
      FROM documents
    ),
    {q} AS (
      SELECT doc_id,
             floor((least(n_tokens / 100.0, 1.0) * 0.4
                    + (stop_hits / n_tokens) * 0.3
                    + (1.0 - digit_chars / n_chars_calc) * 0.2
                    + (1.0 - punct_chars / n_chars_calc) * 0.1) * 1000000 + 0.5)
               / 1000000 AS q_r
      FROM {feats}
    )"""


# The adaptive SimHash band width w of ``simhash_bits_for`` over a
# count `n`; the fingerprint carries 4 * w bits.
_SIMHASH_WIDTH_SQL = """least(15, greatest(8,
               CAST(ceil(log2(greatest(1, n // 4))) AS BIGINT)))"""
_SIMHASH_SIZING = f"""sizen AS (SELECT count(*)::BIGINT AS n FROM documents),
    sizew AS (
      SELECT {_SIMHASH_WIDTH_SQL} AS w
      FROM sizen
    )"""
_FP_FIXED = "sum(CASE WHEN s > 0 THEN power(2.0, j) ELSE 0.0 END)::BIGINT AS simhash"


def _simhash_ctes(
    bits: int | None = None, src: str = "documents", fp: bool = True,
    collapse: bool = False,
) -> str:
    """The oracle side of ``operators/dedup.py::simhash`` over the
    documents ``src``: `per_bit` sums ±1 over a document's tokens by
    the parity of hex digit j of the token's md5; `fp` (doc_id,
    simhash) sets bit j where that sum is positive. ``bits`` fixes
    the width (at most 32: one digest); None replays the adaptive
    width 4 * w of `sizew` (``_SIMHASH_SIZING``), bits j >= 32 drawn
    from the salted md5('b:' || token). ``fp=False`` stops at
    `per_bit`; ``collapse`` adds `fpc`, the lowest-id document of
    each distinct fingerprint."""
    if bits is None:
        ctes = [f"""tok0 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM {src}
    ),
    tok AS (
      SELECT doc_id, md5(token) AS h, md5('b:' || token) AS h2 FROM tok0
    ),
    expanded AS (
      SELECT * FROM (SELECT doc_id, h, h2, unnest(range(60)) AS j FROM tok)
      WHERE j < 4 * (SELECT w FROM sizew)
    )"""]
        digit = """
                           substr(CASE WHEN j < 32 THEN h ELSE h2 END,
                                  (CASE WHEN j < 32 THEN j ELSE j - 32 END
                                   + 1)::INT, 1)"""
        total = """sum(CASE WHEN s > 0 THEN (1::BIGINT << j::INT) ELSE 0 END)
               ::BIGINT AS simhash"""
    else:
        ctes = [f"""tok AS (
      SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM {src}
    ),
    expanded AS (
      SELECT doc_id, h, unnest(range({bits})) AS j FROM tok
    )"""]
        digit, total = " substr(h, (j + 1)::INT, 1)", _FP_FIXED
    ctes.append(f"""per_bit AS (
      SELECT doc_id, j,
             sum((((strpos('0123456789abcdef',{digit}) - 1) % 2)
                  * 2 - 1)::BIGINT) AS s
      FROM expanded GROUP BY doc_id, j
    )""")
    if fp:
        ctes.append(f"""fp AS (
      SELECT doc_id,
             {total}
      FROM per_bit GROUP BY doc_id
    )""")
    if collapse:
        ctes.append("""fpc AS (
      SELECT min(doc_id) AS doc_id, simhash FROM fp GROUP BY simhash
    )""")
    return ",\n    ".join(ctes)


_BANDS4 = "CROSS JOIN (SELECT unnest(range(4)) AS band)"
# Hamming <= 3 verification of the candidate fingerprint pairs
_HAMMING = """doc_a, doc_b, bit_count(xor(fp_a, fp_b))::BIGINT AS hamming
    FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3"""


def _band_value(fp: str, band: str = "band") -> str:
    """Band ``band`` of fingerprint ``fp``: its w-bit slice (`sizew`)."""
    return (
        f"({fp} >> ({band} * (SELECT w FROM sizew))::INT)\n"
        "               & ((1::BIGINT << (SELECT w FROM sizew)::INT) - 1)"
    )


def _banded_ctes(src: str, cols: str = "doc_id, simhash") -> str:
    """The adaptive band index over the fingerprints ``src``: one
    (band, bv) row per document and band, and the `hot` band values
    held by more than 32 documents, which the index drops."""
    return f"""banded AS (
      SELECT {cols}, band,
             {_band_value("simhash")} AS bv
      FROM {src} {_BANDS4}
    ),
    hot AS (
      SELECT band, bv FROM banded GROUP BY band, bv HAVING count(*) > 32
    )"""


@register(
    "qd1_dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           count(*)::BIGINT AS n_copies
    FROM documents GROUP BY 1
    """,
)
def qd1_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, group view: digest -> survivor id + copy count."""
    return exact_dedup_groups(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "qd2_dedup_exact_keep",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
    """,
)
def qd2_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, surviving rows (lowest id per content digest)."""
    return exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "qd3_ngram_jaccard_pairs",
    oracle=f"""
    WITH {JACCARD_CTE}
    SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.8
    """,
)
def qd3_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS BASELINE — use qd3b_ngram_jaccard_capped at scale
    (the documented 100 TB default, COVERAGE.md): uncapped postings
    pair template cliques quadratically on adversarial corpora (a
    shingle shared by m docs emits m² candidates); qd3b's
    stop-shingle cap bounds every posting list.

    Near-dup pairs by exact word-3-gram Jaccard >= 0.8 (the testdata
    contains injected ~0.99 pairs)."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.8
    )


@register(
    "qd4_minhash_signatures",
    oracle=f"""
    WITH {SHINGLE_CTE},
    sliced AS (
      SELECT doc_id, seed,
             {_SLICED_WORD} AS word
      FROM shingle {_SEEDS}
    )
    SELECT doc_id, seed, min(word) AS minhash
    FROM sliced GROUP BY doc_id, seed
    """,
)
def qd4_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8, word-3-grams) with the SLICED hash
    family: each md5 digest yields four independent 32-bit words, so
    8 hashes cost 2 md5 calls per shingle instead of 8 — the
    signature-generation CPU term drops ~4x (the same family qd5's
    band keys use; verification there is exact regardless)."""
    sigs = minhash_signatures(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=3, num_hashes=8
    )
    return sigs.select("doc_id", F.col("seed").cast("long").alias("seed"), "minhash")


@register(
    "qd5_minhash_lsh_pairs",
    oracle=f"""
    WITH {JACCARD_CTE},
    {_LSH_CTES}
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM candidates c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.8
    """,
)
def qd5_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation (4 bands x 2 rows) + exact
    Jaccard verification — the 100 TB near-dup path."""
    return minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_hashes=8,
        rows_per_band=2,
        threshold=0.8,
    )


@register(
    "qd6_simhash",
    oracle=f"""
    WITH {_simhash_ctes(16, fp=False)}
    SELECT doc_id,
           {_FP_FIXED}
    FROM per_bit GROUP BY doc_id
    """,
)
def qd6_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (md5-hex-digit-parity bit family)."""
    return simhash(table(spark, sf_dir, "documents"), "doc_id", "text", bits=16)


@register(
    "qd7_embedding_near_dup",
    oracle="""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 1000000 + 0.5) / 1000000
             AS cosine_r
    FROM base a JOIN base b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.45
    """,
)
def qd7_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.45).

    The semantic-dedup path: exact pairwise kernel here (oracle-
    checkable); at scale the same predicate runs after sign-bucket /
    IVF candidate generation (qs3) so the pair space is pruned before
    any dot product. Threshold 0.45 sits just under this dataset's
    max off-diagonal cosine (~0.51) so real pairs surface.
    """
    from spotify_pipeline_gcp_spark.operators.similarity import cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, "vec_id", "embedding")
    return pairs.where(F.col("cosine") >= 0.45).select(
        "id_a", "id_b", fixed(F.col("cosine"), 6).alias("cosine_r")
    )


@register(
    "qd8_dedup_components",
    oracle=f"""
    WITH RECURSIVE {JACCARD_CAPPED_CTE},
    {_closure_ctes(_NP_JAC)}
    SELECT node AS doc_id, min(label) AS component
    FROM walk GROUP BY node
    """,
)
def qd8_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the near-dup relation: one component id
    (min doc id) per clustered document — the keep-one-per-cluster
    dedup policy. Iterative min-label propagation in Spark; the
    oracle replays it as a recursive label-walk CTE. As of r9 the
    pair generation is the CAPPED generator (``max_shingle_df=4``,
    qd3b's production shape — the oracle replays the capped chain):
    the uncapped posting lists put the pair-aggregate at the edge of
    a 4 g heap at the 100× ladder point, exactly the hazard the
    qd3→qd3b demotion documents; the closure itself is
    generator-agnostic."""
    pairs = ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
        max_shingle_df=4,
    )
    return dedup_components(pairs)


@register(
    "qd3b_ngram_jaccard_capped",
    oracle=f"""
    WITH {SHINGLE_CTE},
    {_jaccard_ctes(capped=True, jac=False)}
    {_JAC_SELECT}
    WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    """,
)
def qd3b_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-capped Jaccard pairs (``max_shingle_df=4``): the
    scale knob that bounds every inverted list before the pair join —
    on natural text the difference between a bounded shuffle and a
    hot-key n² blowup. Jaccard is over the FILTERED shingle space
    (standard: stop-shingles carry no dedup signal); at this corpus
    the cap drops ~150 high-df shingles and the planted near-dup
    pairs all survive, so the capped and uncapped answers agree —
    proven here by the driver, not assumed."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
        max_shingle_df=4,
    )


@register(
    "qd9_simhash_pairs",
    oracle=f"""
    WITH {_simhash_ctes(32)},
    banded AS (
      SELECT doc_id, simhash, band, (simhash >> (band * 8)::INT) & 255 AS bv
      FROM fp {_BANDS4}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS fp_a, b.simhash AS fp_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT {_HAMMING}
    """,
)
def qd9_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTNESS BASELINE — use qd9b_simhash_pairs_capped at scale
    (the documented 100 TB default, COVERAGE.md): an uncapped band
    bucket holding m near-identical fingerprints (template cliques)
    emits m² candidates here; qd9b caps each band bucket (the
    fingerprint-level stop-shingle move).

    SimHash near-dup PAIRS — bit-band LSH over 32-bit fingerprints
    (4 bands x 8 bits), Hamming <= 3 verification via
    ``bit_count(a ^ b)``. With 4 bands the band filter is LOSSLESS
    for Hamming <= 3 (pigeonhole: 3 flipped bits leave one band
    intact), so this is exact near-dup pairing, not approximate —
    the operator SimHash fingerprints were missing (fingerprints
    alone only bucket EXACT fingerprint equality)."""
    return simhash_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=32,
        bands=4,
        max_hamming=3,
    )


# Sign-bucket base the qd7b/qd10 oracles share: AUTO-SIZED bits
# (compat.SIZED_BITS_SQL — the sign_bits_for replay qs13 pioneered),
# then the same width-j coarse code qs13's oracle builds, then the
# HOT-BUCKET CAP (compat.SIZED_BUCKET_CAP — sign bits are
# data-correlated, so a dense region can hold one bucket at a
# constant fraction of n however many bits are added; the cap bounds
# worst-case candidates at cap*n/2, and never binds at driver scale).
# r9's 100x ladder caught the previous pinned-4-bit form quadratic:
# 16 buckets over 200k vectors is ~1.25e9 exact cosines (the sweep
# stalled >14 min on it); auto-sized buckets hold ~256 vectors at any
# scale so TYPICAL candidates stay ~256*n, and the cap makes the
# worst case linear too.
_SIGNED_BASE_SQL = f"""
    nb AS (
      SELECT {SIZED_BITS_SQL} AS bits FROM embeddings
    ),
    coded AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
             CAST(list_sum(list_transform(range(1, (SELECT bits FROM nb) + 1),
                  j -> CASE WHEN embedding[j] > 0 THEN 1 << (j - 1) ELSE 0 END))
                  AS BIGINT) AS bucket
      FROM embeddings
    ),
    hot AS (
      SELECT bucket FROM coded GROUP BY bucket
      HAVING count(*) > {SIZED_BUCKET_CAP}
    ),
    base AS (
      SELECT c.* FROM coded c ANTI JOIN hot h ON c.bucket = h.bucket
    )"""


def _sign_bucket_pairs(spark: SparkSession, sf_dir: str):
    """Shared qd7b/qd10 candidate stage: auto-sized sign buckets
    (operators/similarity.py::sign_bits_for — avg bucket ~256 vectors
    at any scale), hot buckets dropped (MAX_SIGN_BUCKET — worst-case
    candidate volume capped at cap*n/2), equi-join within bucket,
    exact cosine. Returns (aliased pair DataFrame, pre-threshold
    cosine column)."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _dot_pre,
        _double_base,
        drop_hot_buckets,
        sign_bits_for,
        sign_bucket,
    )

    emb = table(spark, sf_dir, "embeddings")
    n_bits = sign_bits_for(_row_count(emb))
    base = drop_hot_buckets(
        _double_base(emb, "vec_id", "embedding").withColumn(
            "bucket", sign_bucket("v", n_bits)
        )
    )
    a, b = base.alias("a"), base.alias("b")
    cos = _dot_pre(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
    )
    return pairs, cos


@register(
    "qd7b_embedding_near_dup_pruned",
    oracle=f"""
    WITH {_SIGNED_BASE_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_dot_product(a.v, b.v) / (a.norm * b.norm)) * 1000000 + 0.5) / 1000000
             AS cosine_r
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= 0.45
    """,
)
def qd7b_embedding_near_dup_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs AT SCALE: sign-bucket candidate
    generation (qs13's AUTO-SIZED coarse code — an equi-join, never
    all-pairs, avg bucket ~256 vectors at any corpus size) feeding
    qd7's cosine >= tau predicate. This is the actual 100 TB
    semantic-dedup operator: the pair space shrinks ~2^n_bits before
    any dot product runs, and the oracle replays sizing + bucket +
    threshold (compat.SIZED_BITS_SQL) so the data-adaptive index is
    hash-verified. qd7 is the unpruned exactness twin; recall loss vs
    qd7 is the standard single-probe ANN trade (cross-bucket pairs
    are not scored)."""
    pairs, cos = _sign_bucket_pairs(spark, sf_dir)
    return pairs.where(cos >= 0.45).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        fixed(cos, 6).alias("cosine_r"),
    )


# Quantized-unit-vector extension of the sign-bucket base: the same
# auto-sized buckets + hot-bucket cap, then each survivor's JVM-fold
# unit vector rounded at compat.QA — the replay of exactly what
# sign_bucket_pairs_blas's NumPy kernel scores (see qs4: integer dots
# of 2^20-rounded unit vectors are exact in float64 under any
# accumulation order, and qdot / 2^40 is a dyadic rational both
# engines represent bit-identically).
_QUANT_BASE_SQL = f"""{_SIGNED_BASE_SQL},
    qb AS (
      SELECT vec_id, bucket,
             list_transform(v, x -> floor((x / norm) * {QA} + 0.5)) AS qu
      FROM base
    )"""
# the quantized-exact pairs within a bucket at cosine >= 0.45
_QPAIRS = f"""FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.qu, b.qu) / {QA * QA} >= 0.45"""
_NP_QUANT = f"""(
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      {_indent(_QPAIRS, "      ")}
    )"""


@register(
    "qd7c_embedding_near_dup_blas",
    # HASH-VERIFIED: quantized-exact pair scoring — the oracle
    # replays the kernel's integer dots bit-for-bit (qs4 discipline).
    oracle=f"""
    WITH {_QUANT_BASE_SQL}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.qu, b.qu) / {QA * QA} AS cosine_q
    {_QPAIRS}
    """,
)
def qd7c_embedding_near_dup_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qd7b's throughput twin: same sign-bucket candidate space
    (auto-sized code, hot-bucket cap), but each bucket is scored as
    ONE integer dgemm instead of an equi-join of interpreted HOF
    folds — at the 5 M-doc rung 177 s of qd7b's 199 s was fold dots
    (NOTES_r13), and this kernel moves those FLOPs to BLAS while
    keeping the query hash-verifiable (quantized-exact scoring, the
    qs4/qs26 discipline — see operators/similarity.py::
    sign_bucket_pairs_blas). qd7b is retained as the raw-float fold
    anchor; the two differ only for pairs within ~2^-20 of the 0.45
    threshold, identically replayed by each query's own oracle."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        sign_bucket_pairs_blas,
    )

    emb = table(spark, sf_dir, "embeddings")
    return sign_bucket_pairs_blas(emb, threshold=0.45)


@register(
    "qd10_semantic_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_QUANT_BASE_SQL},
    {_closure_ctes(_NP_QUANT)}
    SELECT node AS vec_id, min(label) AS component
    FROM walk GROUP BY node
    """,
)
def qd10_semantic_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup END-TO-END at the scale shape: sign-bucket
    candidate pruning (equi-join, never all-pairs) -> exact cosine
    >= 0.45 threshold (qd7b) -> transitive closure into keep-one
    clusters (qd8's min-label propagation). This is the full
    embedding-dedup policy a 100 TB pipeline runs: every stage is a
    bucketed join or an iterate-materialize loop, and the oracle
    replays sizing + pruning + threshold + closure (recursive CTE)
    exactly — buckets are AUTO-SIZED via sign_bits_for (avg ~256
    vectors each) so the candidate stage stays ~256*n at any scale.

    r14: the edge kernel is the quantized-exact per-bucket dgemm
    (qd7c — one matmul per bucket instead of the fold-scored
    equi-join that dominated the 331.6 s r13 rung row); the oracle's
    np CTE replays the quantized dots, so the threshold cut stays
    hash-verified. qd7b remains the raw-float fold anchor."""
    from spotify_pipeline_gcp_spark.operators.similarity import (
        sign_bucket_pairs_blas,
    )

    emb = table(spark, sf_dir, "embeddings")
    edges = sign_bucket_pairs_blas(emb, threshold=0.45).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comp = dedup_components(edges)
    return comp.select(F.col("doc_id").alias("vec_id"), "component")


NEW_SRC = "('src15', 'src16', 'src17', 'src18', 'src19')"


# shared with qst5 (queries/streaming.py): the streaming foreachBatch
# near-dup drained under AvailableNow equals this batch computation.
QD11_ORACLE = f"""
    WITH old_docs AS (SELECT * FROM documents WHERE source NOT IN {NEW_SRC}),
    new_docs AS (SELECT * FROM documents WHERE source IN {NEW_SRC}),
    {_shingle_ctes("tok_o", "sh_o", "old_docs")},
    {_shingle_ctes("tok_n", "sh_n", "new_docs")},
    {_sig_cte("sig_o", "sh_o")},
    {_sig_cte("sig_n", "sh_n")},
    {_band_cte("band_o", "sig_o")},
    {_band_cte("band_n", "sig_n")},
    cand AS (
      SELECT DISTINCT o.doc_id AS doc_old, nw.doc_id AS doc_new
      FROM band_o o
      JOIN band_n nw ON o.band = nw.band AND o.mh0 = nw.mh0 AND o.mh1 = nw.mh1
    ),
    sizes_o AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh_o GROUP BY doc_id),
    sizes_n AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh_n GROUP BY doc_id),
    common AS (
      SELECT c.doc_old, c.doc_new, count(*)::BIGINT AS n_common
      FROM cand c
      JOIN sh_o a ON a.doc_id = c.doc_old
      JOIN sh_n b ON b.doc_id = c.doc_new AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT c.doc_old, c.doc_new,
           n_common::DOUBLE / (so.n_sh + sn.n_sh - n_common) AS jaccard
    FROM common c
    JOIN sizes_o so ON so.doc_id = c.doc_old
    JOIN sizes_n sn ON sn.doc_id = c.doc_new
    WHERE n_common::DOUBLE / (so.n_sh + sn.n_sh - n_common) >= 0.8
    """


@register("qd11_incremental_near_dup", oracle=QD11_ORACLE)
def qd11_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new batch (sources src15-src19, the
    stand-in for today's partitions) LSH-matched against the existing
    corpus — old x new band joins only, never a corpus re-pairing.
    The reference's anti-join delta semantic lifted from exact keys
    to near-duplicates; per-batch cost is O(|new| + matched buckets)
    because the old side contributes only its (storable) band table
    and shingle sets."""
    docs = table(spark, sf_dir, "documents")
    new_srcs = ["src15", "src16", "src17", "src18", "src19"]
    return minhash_lsh_pairs_incremental(
        docs.where(~F.col("source").isin(new_srcs)),
        docs.where(F.col("source").isin(new_srcs)),
        "doc_id",
        "text",
        n=3,
        num_hashes=8,
        rows_per_band=2,
        threshold=0.8,
    )


@register(
    "qd12_keep_best_per_cluster",
    oracle=f"""
    WITH RECURSIVE {JACCARD_CAPPED_CTE},
    {_closure_ctes(_NP_JAC)},
    {_COMP_CTE},
    {_quality_ctes("feats", "q")},
    ranked AS (
      SELECT c.component, c.doc_id, q.q_r,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.q_r DESC, c.doc_id) AS rn,
             count(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT component, doc_id AS keep_id, n_members::BIGINT AS n_members,
           q_r AS best_score
    FROM ranked WHERE rn = 1
    """,
)
def qd12_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup POLICY end-to-end: near-dup pairs -> transitive
    closure -> keep the highest-QUALITY member per cluster (ties ->
    lowest id), not the arbitrary lowest-id member. Scores come from
    the quality operator (fixed-point rounded so the argmax is
    engine-reproducible); the oracle replays closure + scoring +
    per-cluster ranking."""
    docs = table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=4
    )
    comp = dedup_components(pairs)
    scores = quality_score(docs, "doc_id", "text").select(
        "doc_id", fixed(F.col("quality"), 6).alias("q_r")
    )
    return keep_best_per_cluster(comp, scores, "doc_id", "q_r").select(
        "component", "keep_id", "n_members",
        F.col("best_score"),
    )


def _simhash_capped_oracle(collapse: bool) -> str:
    """Oracle for qd9b/qd9c: adaptive-width fingerprints (collapsed to
    one document per distinct fingerprint for qd9c), the capped band
    index, and Hamming <= 3 over the pairs sharing a kept band."""
    return f"""
    WITH {_SIMHASH_SIZING},
    {_simhash_ctes(collapse=collapse)},
    {_banded_ctes("fpc" if collapse else "fp")},
    kept AS (
      SELECT b.doc_id, b.simhash, b.band, b.bv
      FROM banded b ANTI JOIN hot h ON b.band = h.band AND b.bv = h.bv
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS fp_a, b.simhash AS fp_b
      FROM kept a
      JOIN kept b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT DISTINCT {_HAMMING}
    """


@register(
    "qd9b_simhash_pairs_capped", oracle=_simhash_capped_oracle(collapse=False)
)
def qd9b_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairing with ADAPTIVE width and BOUNDED band buckets —
    the 100 TB default. Width: ``simhash_bits_for(count)`` picks the
    band width so a typical (band, value) bucket holds ~4 documents
    (candidates stay LINEAR in the corpus; a fixed width goes
    quadratic and, worse, inverts the bucket cap into zero recall
    once typical buckets exceed it — r9 measured the previous fixed
    32-bit form returning 0 pairs at the 100× ladder point, every
    8-bit band value holding ~195 > 32 docs). Cap: ``max_bucket=32``
    now only drops buckets ~8× hotter than typical — template
    cliques, the thing it was for. Both the sizing arithmetic and
    the salted second hash for bits ≥ 32 are replayed in the oracle,
    so the adaptive fingerprint is hash-verified; at driver scale
    (n=500 → 32 bits) values equal the previous fixed form.

    Deliberate semantic note: Hamming ≤ 3 at width w(n) is a
    similarity threshold that TIGHTENS as the corpus grows (3 of 60
    bits is a stricter cut than 3 of 32) — the price of linear
    candidates at a fixed band count. Workloads needing a
    scale-stable threshold should pin ``bits`` explicitly (qd9 is
    the fixed-width exactness baseline) or raise ``max_hamming``
    with ``bands = max_hamming + 1`` to keep the lossless radius."""
    docs = table(spark, sf_dir, "documents")
    n = _row_count(docs)
    return simhash_pairs(
        docs,
        "doc_id",
        "text",
        bits=simhash_bits_for(n),
        bands=4,
        max_hamming=3,
        max_bucket=32,
        # bounds per-task fingerprint-aggregate state (the r10 1000x
        # ladder OOM'd the unsized form in 4 g) — see simhash()
        n_docs=n,
    )


@register(
    "qd9c_simhash_pairs_collapsed", oracle=_simhash_capped_oracle(collapse=True)
)
def qd9c_simhash_pairs_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qd9b with ``collapse_identical=True`` — built as the
    hypothesized mitigation for the recall cost qd9r measured (0.58
    avg at sf0.1 under cap 32), then AUDITED: qd9r2 reports 0.584 vs
    qd9r's 0.585 on the same universe — on this corpus collapsing
    does NOT recover the capped recall, because the hot band values
    are populated by NEAR-identical (distinct) fingerprints, which
    collapse cannot merge. The honest value of the collapse is
    candidate-VOLUME control, not recall: an identical-fingerprint
    clique of c members emits c·(c-1)/2 pairs on one band reducer in
    qd9b (a blowup no bucket cap can see when the clique spans many
    buckets' worth of one value); here each clique is one
    representative and intra-clique pairs are exact-dup territory
    recovered upstream (qd1/qd2). Recall levers that DO move the
    qd9r number are cap size, band count, and pinned width. The
    collapse, sizing, cap, and Hamming verify are all
    oracle-replayed."""
    docs = table(spark, sf_dir, "documents")
    n = _row_count(docs)
    return simhash_pairs(
        docs,
        "doc_id",
        "text",
        bits=simhash_bits_for(n),
        bands=4,
        max_hamming=3,
        max_bucket=32,
        collapse_identical=True,
        n_docs=n,
    )


def _simhash_audit_oracle(collapse: bool) -> str:
    """Audit oracle for qd9r/qd9r2: sample fold, adaptive width,
    fingerprints, optional exact-fingerprint collapse (the qd9c
    universe), probe draw, bucket cap, integer recall."""
    fp_src = "fpc" if collapse else "fp"
    return f"""
    WITH {_SIMHASH_SIZING},
    samp AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text, md5('shc:' || doc_id::VARCHAR) AS _d
        FROM documents
      ) WHERE ({UNIT_FOLD}) / 4294967296.0
          < least(1.0, 65536.0 / (SELECT n FROM sizen))
    ),
    {_simhash_ctes(src="samp", collapse=collapse)},
    probes AS (
      SELECT doc_id, simhash FROM (
        SELECT doc_id, simhash,
               md5('shp:' || doc_id::VARCHAR) AS _p
        FROM {fp_src}
      ) ORDER BY _p LIMIT 64
    ),
    {_banded_ctes(fp_src, cols="doc_id")},
    exact AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS other_id,
             p.simhash AS fp_p, c.simhash AS fp_c
      FROM probes p JOIN {fp_src} c ON p.doc_id <> c.doc_id
      WHERE bit_count(xor(p.simhash, c.simhash)) <= 3
    ),
    shared AS (
      SELECT e.probe_id, e.other_id, b.band,
             {_band_value("e.fp_p", "b.band")} AS bv
      FROM exact e {_BANDS4} b
      WHERE ({_band_value("e.fp_p", "b.band")})
          = ({_band_value("e.fp_c", "b.band")})
    ),
    surv AS (
      SELECT DISTINCT probe_id, other_id
      FROM shared s ANTI JOIN hot h ON s.band = h.band AND s.bv = h.bv
    ),
    truec AS (
      SELECT probe_id, count(*)::BIGINT AS n_true FROM exact GROUP BY 1
    ),
    hits AS (
      SELECT probe_id, count(*)::BIGINT AS n_hits FROM surv GROUP BY 1
    )
    SELECT p.doc_id AS doc_id,
           coalesce(t.n_true, 0)::BIGINT AS n_true,
           coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           CASE WHEN coalesce(t.n_true, 0) = 0 THEN 1.0
                ELSE coalesce(h.n_hits, 0) / CAST(t.n_true AS DOUBLE)
           END AS recall
    FROM probes p
    LEFT JOIN truec t ON p.doc_id = t.probe_id
    LEFT JOIN hits h ON p.doc_id = h.probe_id
    """


@register(
    "qd9r_simhash_recall_audit",
    # HASH-VERIFIED: sample membership (unit fold), adaptive width,
    # fingerprints, probe draw, bucket cap, and the integer recall
    # ratio are all replayed — every reported miss is attributable
    # to the cap, measured, not narrated.
    oracle=_simhash_audit_oracle(collapse=False),
)
def qd9r_simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for qd9b's capped adaptive-width band index (r13
    verdict item #3 — the qs21/qs29 pattern for the SimHash family):
    per-probe recall of the candidate rule against exact-Hamming
    ground truth over a bounded sampled universe (≤64 probes × ≤65 k
    audit corpus — constant cost at ANY corpus size). The index under
    audit keeps its full-corpus configuration (width sized from the
    REAL document count, cap 32 on the sampled universe's buckets),
    so the number this reports is the deployed index's recall, and
    because the 4-band filter is lossless at Hamming ≤ 3, every miss
    is attributable to the bucket cap. See
    ``operators/dedup.py::simhash_recall_audit``."""
    return simhash_recall_audit(table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "qd9r2_simhash_recall_audit_collapsed",
    oracle=_simhash_audit_oracle(collapse=True),
)
def qd9r2_simhash_recall_audit_collapsed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """qd9r pointed at the COLLAPSED index (qd9c's candidate rule):
    same bounded eval, but exact-fingerprint cliques are represented
    once before banding, ground truth, and the cap — measuring
    whether the hypothesized mitigation recovers the recall the cap
    costs. MEASURED ANSWER (r14): no — 0.584 vs qd9r's 0.585 at
    sf0.1 (hot band values come from near-identical, not identical,
    fingerprints), and at the 5 M-doc rung BOTH audits report recall
    1.0 over a near-empty ground truth (1 true pair in the sampled
    universe) — direct confirmation that qd9b's pair shrinkage at
    scale is the ADAPTIVE-WIDTH THRESHOLD tightening (Hamming ≤ 3 of
    60 bits), not cap-driven recall loss. Collapse, sizing, cap, and
    the integer recall ratio are all oracle-replayed —
    hash-verified."""
    return simhash_recall_audit(
        table(spark, sf_dir, "documents"), "doc_id", "text", collapse_identical=True
    )


@register(
    "qd13_duplicated_spans",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    tw AS (SELECT doc_id, t FROM t WHERE len(t) >= 8),
    posi AS (
      SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS pos FROM tw
    ),
    wins AS (
      SELECT doc_id, pos,
             md5(array_to_string(t[pos:pos+7], ' ')) AS wkey
      FROM posi
    ),
    dpos AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY wkey) AS n_occ
        FROM wins
      ) WHERE n_occ >= 2
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dpos
    )
    SELECT doc_id,
           min(pos)::BIGINT AS span_start,
           (max(pos) + 7)::BIGINT AS span_end,
           (max(pos) + 7 - min(pos) + 1)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_windows
    FROM isl GROUP BY doc_id, grp
    """,
)
def qd13_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span report (substring-level dedup, the
    Lee-et-al 2022 semantics — see
    ``operators/dedup.py::duplicated_spans``): every maximal token
    span whose 8-token windows ALL occur ≥2 times corpus-wide
    (cross-document duplication AND self-repetition). The family's
    only LINEAR dedup operator — no document pairing, just a window
    count and a semi-join — so it is the one that still runs when the
    corpus is 100 TB and even LSH candidate pairs are a budget item.
    The oracle replays tokenization, 1-based window hashing, the ≥2
    multiset filter, and the islands merge verbatim."""
    return duplicated_spans(table(spark, sf_dir, "documents"), "doc_id", "text", w=8)


# qd14's verified LSH pairs
_NP_LSH = """(
      SELECT c.doc_a, c.doc_b
      FROM candidates c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
      WHERE j.jaccard >= 0.8
    )"""
# qd14's quality CTEs; the newlines around them are part of its oracle
_QUALITY_CTES = f"\n    {_quality_ctes('feats2', 'qual')}\n"


@register(
    "qd14_near_dup_export",
    oracle=f"""
    WITH RECURSIVE {JACCARD_CTE},
    {_LSH_CTES},
    {_closure_ctes(_NP_LSH)},
    {_COMP_CTE},
    {_QUALITY_CTES},
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.q_r DESC, c.doc_id) AS rn
      FROM comp c JOIN qual q ON q.doc_id = c.doc_id
    ),
    losers AS (SELECT doc_id FROM ranked WHERE rn > 1),
    d AS (
      SELECT doc_id, source,
             len(string_split(text, ' '))::BIGINT AS n_tokens,
             doc_id IN (SELECT doc_id FROM losers) AS dropped
      FROM documents
    )
    SELECT source,
           count(*) FILTER (WHERE NOT dropped)::BIGINT AS n_kept,
           count(*) FILTER (WHERE dropped)::BIGINT AS n_dropped,
           coalesce(sum(n_tokens) FILTER (WHERE NOT dropped), 0)::BIGINT
             AS tokens_kept
    FROM d GROUP BY source
    """,
)
def qd14_near_dup_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup dedup export end-to-end at the scale shape — the
    qp5 counterpart where the dedup gate is fuzzy instead of exact:
    MinHash-LSH candidates (qd5: band equi-join, never all-pairs) ->
    exact-Jaccard verify -> transitive closure (qd8) -> keep the
    highest-QUALITY member per cluster (qd12's policy) -> drop the
    losers -> per-source manifest (kept/dropped docs, kept tokens).
    Every stage is the already-verified operator; the composition is
    the point — this is the single DAG a production near-dup dedup
    run executes, and the oracle replays candidates, verification,
    closure (recursive CTE), policy, and accounting end to end.

    Scale shape: pair generation is the bounded LSH join, closure
    iterates on the pair graph (tiny vs the corpus), the loser list
    is |members of multi-doc clusters| << n and anti-joins the corpus
    without shuffling it, and the manifest is one combinable rollup."""
    docs = table(spark, sf_dir, "documents")
    # counted from the Parquet footers, no job; shared by the pair
    # generator's slice-bound sizing and the spool routing below
    n_corpus = _row_count(docs)
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_hashes=8,
        rows_per_band=2, threshold=0.8, n_docs=n_corpus,
    ).select("doc_a", "doc_b")
    # Stage the pair table to parquet between generation and closure
    # at scale (r12): dedup_components' first eager localCheckpoint
    # otherwise materializes the WHOLE LSH plan inside one stage
    # pipeline — the fat-array verify sort, the DISK_ONLY block
    # writes, and the label dedup's shuffle all peak together, which
    # is what flaked the 5 M-doc rung in 4 g even after the verify
    # sort was slice-bounded. A parquet spool splits the peaks: pair
    # generation runs alone (qd5's proven 1000x shape, streaming
    # write), and the closure iterates over the skinny re-read table
    # (qd8's proven shape). This is also what a production run does —
    # the pair table is the natural durable intermediate of a dedup
    # DAG. The spool is id-pairs only (~16 B/row) and is DELETED as
    # soon as the closure materializes (r13 — dedup_components runs
    # its loop eagerly and checkpoints the final label table, so
    # nothing references the spool afterwards; mkdtemp dirs are NOT
    # cleaned at process exit, and repeated large runs were leaking
    # pair tables into /tmp). The spool base honors
    # SPARK_GRAFT_SCRATCH for deployments where driver and executors
    # need a SHARED filesystem (the driver-local tempdir default is a
    # local-mode convenience). Below the threshold the plan feeds
    # the closure directly — the spool's extra job/write round-trip
    # is pure fixed overhead on toy corpora (measured +10 s at
    # sf0.1), and the peak it splits does not exist there.
    if n_corpus > _SPOOL_MIN_DOCS:
        import os
        import shutil
        import tempfile

        spool_dir = tempfile.mkdtemp(
            prefix="near_dup_export_",
            dir=os.environ.get("SPARK_GRAFT_SCRATCH"),
        )
        try:
            spool = os.path.join(spool_dir, "pairs")
            pairs.write.parquet(spool)
            spooled = spark.read.schema(
                "doc_a long, doc_b long"
            ).parquet(spool)
            comp = dedup_components(spooled)
        finally:
            shutil.rmtree(spool_dir, ignore_errors=True)
    else:
        comp = dedup_components(pairs)
    scores = quality_score(docs, "doc_id", "text").select(
        "doc_id", fixed(F.col("quality"), 6).alias("q_r")
    )
    keepers = keep_best_per_cluster(comp, scores, "doc_id", "q_r").select(
        F.col("keep_id").alias("doc_id")
    )
    losers = comp.select("doc_id").join(keepers, "doc_id", "left_anti")
    base = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    ).join(
        losers.withColumn("dropped", F.lit(True)), "doc_id", "left"
    ).withColumn("dropped", F.coalesce(F.col("dropped"), F.lit(False)))
    return base.groupBy("source").agg(
        F.count(F.when(~F.col("dropped"), 1)).cast("long").alias("n_kept"),
        F.count(F.when(F.col("dropped"), 1)).cast("long").alias("n_dropped"),
        F.coalesce(
            F.sum(F.when(~F.col("dropped"), F.col("n_tokens"))),
            F.lit(0),
        ).cast("long").alias("tokens_kept"),
    )
