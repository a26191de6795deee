"""Text-analysis operators over the ``documents`` table.

Language ID (stopword n-gram heuristic), quality scoring, token
statistics, and rolling-hash fingerprinting — all as single-pass
column expressions (no UDFs, no shuffles beyond the final aggregate
where one exists). Each is oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spotify_pipeline_gcp_spark.operators.dedup import _row_count

# Slice bound for the bigram-instance sorts in ngram_lm_score: ~50
# transition rows per document at ~40 B each, so 20k docs ≈ 1 M rows
# ≈ 40 MB per sort slice — in-memory for a task's share of executor
# memory even under full concurrency.
_BIGRAM_DOCS_PER_TASK = 20_000

# Minimal per-language stopword lists (public, standard function words).
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "und", "das", "von", "zu", "ein", "mit"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "en", "que", "los", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "zh": ["的", "了", "和", "是", "在", "我", "有", "他"],
}

MOD_PRIME = 1_000_000_007


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ", -1)


def _stop_hits(lang: str, text_col: str) -> Column:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter(split({text_col}, ' ', -1), t -> t IN ({words})))"
    ).cast("long")


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: argmax of stopword hits per language.

    One pass, one ``filter()`` higher-order scan per language — no
    explode, no shuffle. Ties break alphabetically; zero hits in every
    language → ``'und'`` (BCP-47 undetermined). Output:
    (id, pred_lang, plus per-language hit counts).
    """
    langs = sorted(STOPWORDS)
    hits = {lang: _stop_hits(lang, text_col) for lang in langs}
    best = F.greatest(*[hits[lang] for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:  # alphabetical priority on ties
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col),
        *[hits[lang].alias(f"hits_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document quality features + composite score, single pass.

    Features follow the standard web-corpus filters (length, mean
    token length, stopword ratio, digit/punct density). The composite
    is a transparent linear blend — a placeholder for a trained
    classifier with the same column contract.
    """
    n_chars = F.length(F.col(text_col)).cast("long")
    toks = _tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    mean_tok_len = (n_chars - (n_tokens - 1)) / n_tokens
    stop_ratio = _stop_hits("en", text_col) / n_tokens
    digit_chars = F.length(
        F.regexp_replace(F.col(text_col), "[^0-9]", "")
    ).cast("long")
    punct_chars = F.length(
        F.regexp_replace(F.col(text_col), "[^.,;:!?]", "")
    ).cast("long")
    score = (
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + (1.0 - digit_chars / n_chars) * 0.2
        + (1.0 - punct_chars / n_chars) * 0.1
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        digit_chars.alias("digit_chars"),
        punct_chars.alias("punct_chars"),
        score.alias("quality"),
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counts: total, distinct, type-token ratio, max length.

    Array built-ins only (``size``/``array_distinct``/``array_max``) —
    no explode, so the operator is shuffle-free and scales linearly.
    """
    toks = _tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct / n_tokens).alias("ttr"),
        F.array_max(F.transform(toks, lambda t: F.length(t)))
        .cast("long")
        .alias("max_tok_len"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of an already-split token array —
    empty array below n tokens (guarded: ``sequence`` would count
    DOWN for a negative span)."""
    joined = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n, F.transform(joined, gram)
    ).otherwise(F.array().cast("array<string>"))


def _split_ngrams_regex(text_col: str, n: int) -> Column:
    """Word n-grams with EXACT ``split(text, ' ')`` token semantics
    (empty tokens from doubled/leading spaces included), extracted in
    ONE anchored-lookahead regex pass: ``(?:^|(?<= ))`` anchors every
    token start, the lookahead captures the next n tokens joined by
    their single spaces, and ``[^ ]*`` (not ``\\S+``) keeps empty
    tokens so the result is gram-identical to ``_word_ngrams`` over
    split-by-space arrays. The regex stays inside JVM codegen where
    ``transform``-built arrays evaluate interpreted — the same 12x
    lesson contamination_pairs measured (see its docstring); swapping
    this into repetition_stats took qt6 from 294.6 s to 17.3 s at the
    100x ladder point (and 11.2 s to 0.76 s at sf0.1). NULL text
    yields an EMPTY array (coalesce), matching ``_word_ngrams`` over
    ``split(NULL)`` — without it ``regexp_extract_all(NULL)`` returns
    NULL and downstream gram counts silently become NULL instead
    of 0 (pinned by the NULL-text row in tests/test_text.py)."""
    pat = rf"(?:^|(?<= ))(?=((?:[^ ]* ){{{n - 1}}}[^ ]*))"
    return F.coalesce(
        F.regexp_extract_all(F.col(text_col), F.lit(pat), 1),
        F.array().cast("array<string>"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dup3_ratio: float = 0.2,
) -> DataFrame:
    """Within-document repetition features (the Gopher-style repeated
    n-gram filters): fraction of 2-gram and 3-gram OCCURRENCES that
    are duplicates of an earlier occurrence, plus a keep flag at
    ``max_dup3_ratio``. Boilerplate, scraper loops, and degenerate
    generations score high; clean prose scores near zero.

    Row-local column expressions only — no explode, no shuffle,
    linear scan; the keep flag is a plain predicate Catalyst can push
    wherever the filter composes. Grams come from the codegen-friendly
    regex pass (``_split_ngrams_regex``), not ``transform``."""
    out = [F.col(id_col)]
    for n in (2, 3):
        grams = _split_ngrams_regex(text_col, n)
        total = F.size(grams).cast("long")
        dups = (total - F.size(F.array_distinct(grams))).cast("long")
        ratio = F.when(total > 0, dups / total).otherwise(F.lit(0.0))
        out += [total.alias(f"n{n}_grams"), ratio.alias(f"dup{n}_ratio")]
    return df.select(*out).withColumn(
        "keep", F.col("dup3_ratio") <= F.lit(max_dup3_ratio)
    )


def contamination_pairs(
    df: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
) -> DataFrame:
    """Benchmark contamination check: (doc_id, bench_id, n_shared) for
    every corpus document sharing at least one word ``n``-gram with a
    held-out benchmark document — the standard decontamination gate
    in front of any training-data export.

    Scale shape: the benchmark side is SMALL by definition (eval sets,
    not corpora), so its distinct n-gram table broadcasts; the corpus
    side explodes to (doc, gram) rows that hash-join the broadcast
    WITHOUT shuffling the corpus, and the only exchange is the final
    per-(doc, bench) count — bounded by actual collisions, not corpus
    size. Distinct-per-side before the join keeps a gram that repeats
    inside one document from double-counting.

    Gram extraction is ONE anchored-lookahead regex pass
    (``(?:^|(?<= ))(?=((\\S+ ){n-1}\\S+))`` — overlapping matches at
    token starts), which stays inside JVM codegen: measured 12x
    faster at sf0.1 than the ``transform``-built array (Spark's
    higher-order functions evaluate interpreted). Token semantics
    are ``\\S+`` runs — consecutive whitespace yields no empty
    tokens — and the SQL oracle filters empties to match. Verified
    gram-identical to ``_word_ngrams`` over the whole corpus."""
    pat = rf"(?:^|(?<= ))(?=((\S+ ){{{n - 1}}}\S+))"

    def gram_rows(frame: DataFrame, out_id: str) -> DataFrame:
        # normalize ALL whitespace (\s+, not just spaces — tabs and
        # newlines must separate tokens the same way the \S+ token
        # definition implies) to single spaces first, so grams span
        # runs of any whitespace and the captured strings are
        # single-space-joined (= the oracle's filtered-token join)
        norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
        grams = F.regexp_extract_all(norm, F.lit(pat), 1)
        return frame.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(grams)).alias("gram"),
        )

    hits = gram_rows(df, "doc_id").join(
        F.broadcast(gram_rows(bench, "bench_id")), "gram"
    )
    return hits.groupBy("doc_id", "bench_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


# Portable (RE2 ∩ Java) PII patterns, applied in a FIXED order so
# both engines see identical intermediate strings.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ips", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "[IP]"),
    ("phones", r"\+?[0-9][0-9 ()-]{7,}[0-9]", "[PHONE]"),
]


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction: per-document match counts + the scrubbed text —
    the privacy gate in front of any corpus export. Emails, IPv4ish
    addresses, and phone-number runs are matched with patterns in the
    RE2/Java-portable intersection and replaced by typed placeholders
    IN ORDER (emails, then IPs, then phones), so counts and the final
    string are engine-reproducible. Single codegen pass, no shuffle.

    Heuristic by design (regex PII detection always is): the driver's
    synthetic corpus exercises the zero-match path end-to-end; the
    planted-fixture pytest carries the match semantics."""
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, rep)
    return df.select(F.col(id_col), *counts, clean.alias("clean_text"))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document.

    Polynomial rolling hash over per-token codes
    (``code = ascii(first char) * 131 + token length``), folded
    left-to-right mod a large prime with ``aggregate`` — pure codegen,
    no Python, no shuffle. Reordering tokens changes the fingerprint
    (unlike bag-of-words hashes), so it detects exact passage reuse.
    """
    vals = F.expr(
        f"transform(split({text_col}, ' ', -1), "
        f"t -> CAST((ascii(substring(t, 1, 1)) * 131 + length(t)) % {MOD_PRIME} AS BIGINT))"
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 131 + v) % MOD_PRIME,
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep
    step in front of embedding / RAG-indexing / training-example
    assembly: each document becomes ceil((n_tok - overlap) / step)
    chunks (step = chunk_tokens - overlap, minimum one chunk), each
    holding ``chunk_tokens`` tokens except a shorter tail, each
    sharing ``overlap`` tokens with its predecessor so no boundary
    context is lost.

    Scale shape: tokens are ``\\S+`` runs (whitespace-normalized
    split, engine-portable), chunk starts come from an exploded
    ``sequence`` and the window itself is one ``slice`` — all
    row-local codegen, zero shuffle, and output size is
    ~n_tok/step × the corpus, the same linear factor any chunker
    pays. Output: (id, chunk_id, chunk_n_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = F.array_remove(
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "),
        "",
    )
    base = (
        df.select(F.col(id_col), toks.alias("toks"))
        .withColumn("n_tok", F.size("toks").cast("long"))
        .withColumn(
            "n_chunks",
            F.expr(
                f"greatest(CAST(1 AS BIGINT), (n_tok - {overlap} + {step - 1}) div {step})"
            ),
        )
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_id") * step + 1, chunk_tokens)
    return (
        base.withColumn(
            "chunk_id",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
            ),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id"),
            F.size(chunk).cast("long").alias("chunk_n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    scale: int = 1_000_000,
    n_docs: int | None = None,
) -> DataFrame:
    """Corpus-trained bigram-LM likelihood score per document — the
    classic KenLM-style quality signal (documents whose word
    transitions are typical of the corpus score high; boilerplate,
    gibberish, and wrong-language text score low) without shipping a
    language-model binary: the corpus itself is the training set.

    Semantics: tokens are ``\\S+`` runs; for every adjacent pair
    ``(w1, w2)`` the corpus-wide MLE conditional
    ``P(w2|w1) = c(w1,w2) / c(w1,·)`` is quantized to an exact
    integer ``q = (scale * c2) div c1`` (pure BIGINT arithmetic — no
    transcendentals, so any engine reproduces it bit-for-bit; scoring
    in probability space rather than log space is a monotone proxy
    for perplexity). A document's score is the mean quantized
    transition probability ``sum(q) / n_bigrams / scale``. Every
    in-corpus bigram has c2 >= 1, so no smoothing is needed for
    self-scoring; documents under two tokens have no transitions and
    are excluded.

    Scale shape: one row-local explode to transition instances, two
    combinable aggregations (bigram counts; prefix counts as a
    re-aggregation of bigram counts, never a second corpus pass), and
    one instances->counts equi-join on the gram key. The count table
    is Zipf-compressed (distinct grams << instances), so AQE
    typically broadcasts it; hot stopword-pair keys are exactly the
    skew AQE's skew-join split handles. Output:
    (id, n_bigrams, sum_q, lm_score).
    """
    toks = F.array_remove(
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "),
        "",
    )
    base = df.select(F.col(id_col), toks.alias("toks"))
    # Gram keys stay RAW STRINGS, deliberately (r14 A/B): an md5-
    # prefix-fold dictionary encoding (60-bit long keys, oracle-
    # replayable) was built and rung-measured at 179.2 s vs the
    # string form's 123.3 s — two md5+conv calls per transition
    # instance cost far more CPU than the string-carry saved, and GC
    # stayed ~32 s (digest/concat churn replaces string churn). The
    # measured fix for the instance stream's memory profile is below:
    # the probs join streams instead of sorting.
    # The transitions are ``arrays_zip`` of the two shifted slices, not
    # a ``zip_with`` lambda: higher-order functions fall back to
    # interpreted evaluation and take the explode out of whole-stage
    # codegen. The slice length is clamped at 0 so a document under
    # two tokens (or a NULL text) explodes to nothing, with no
    # ``size >= 2`` filter: Catalyst pushed that filter into the scan
    # and tokenized every document twice. Together: 0.34 → 0.16 s per
    # scan of the sf0.1 documents on one task (4-core box).
    n_tr = F.greatest(F.size("toks") - 1, F.lit(0))
    inst = base.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, n_tr).alias("w1"),
                F.slice(F.col("toks"), 2, n_tr).alias("w2"),
            )
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # Slice-bound the instance table on the join key (r13 — the qd14
    # 1000x fix class): the instances->probs SMJ sorts the whole
    # transition stream (~50 bigram rows per document, two strings
    # each), and at the 5 M-doc rung 32 concurrent task sorters each
    # holding ~8 M fat rows while the shuffle writer claims the same
    # execution memory died with UNABLE_TO_ACQUIRE_MEMORY inside
    # growPointerArray. A corpus-scaled hash repartition on the join
    # key REPLACES the join's own exchange (ENSURE_REQUIREMENTS picks
    # it up on the left side; the Zipf-compressed probs side gets the
    # matching small exchange), bounding every sort slice; below the
    # default parallelism the knob is a no-op, so toy scales keep
    # their plan. On a bare Parquet scan the doc count comes from the
    # file footers with no Spark job (``_row_count``; a ``count()``
    # there ran a whole ~56 ms job per op on a 4-core box); callers
    # holding a derived/filtered frame pass ``n_docs`` (any upper bound
    # on the doc count works — it only sizes the slice) so the
    # upstream plan is never re-executed for sizing.
    base_par = df.sparkSession.sparkContext.defaultParallelism
    want = math.ceil(
        (n_docs if n_docs is not None else _row_count(df)) / _BIGRAM_DOCS_PER_TASK
    )
    if want > base_par:
        inst = inst.repartition(want, "w1", "w2")
    c2 = inst.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_bi")
    )
    # Prefix counts via a WINDOW over the bigram counts (r15): the
    # r13/r14 shape built ``c1`` as a separate aggregate and joined it
    # back — but Catalyst re-derives c2's whole subtree inside the
    # join's c1 branch (column pruning makes the two subtrees differ,
    # so ReuseExchange never fires), and the 5 M-doc rung paid the
    # full scan→normalize→split→explode pass a THIRD time for it
    # (three ~100 s 32-task scan stages in the r15 stageprof; plan
    # before/after in plans/r15). ``sum(n_bi) over (partition by
    # w1)`` computes the identical exact BIGINT total on the
    # Zipf-small count table itself — one small exchange instead of a
    # full corpus pass, and the c2/c1 join disappears. Two fat
    # materializations were measured and REJECTED at the rung before
    # this: per-doc gram counts localCheckpoint'ed to share ONE
    # explode pass across all consumers (125 -> 250 s — the
    # row-serialized write+3x read of the 220 M-row gram table costs
    # more than the pass it saves).
    probs = c2.select(
        "w1",
        "w2",
        F.expr(
            f"({scale} * n_bi) div "
            "(sum(n_bi) OVER (PARTITION BY w1))"
        ).alias("q"),
    )
    # SHUFFLE_HASH on the Zipf-compressed probs side (r14): the SMJ
    # alternative SORTS the whole fat transition stream per task —
    # the dominant memory/GC term at the 5 M-doc rung even after the
    # slice-bound repartition. A shuffled hash join builds its table
    # from probs (distinct bigrams per partition — Zipf-small at any
    # corpus size) and STREAMS the instance side: no instance sort,
    # no growPointerArray, and the co-partitioned exchange above is
    # still reused verbatim. (Values are join-key-equality exact —
    # the physical strategy cannot change one output bit.)
    scored = inst.join(probs.hint("shuffle_hash"), ["w1", "w2"]).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("q").cast("long").alias("sum_q"),
    )
    lm = F.col("sum_q") / F.col("n_bigrams") / float(scale)
    return scored.select(
        F.col(id_col),
        "n_bigrams",
        "sum_q",
        (F.floor(lm * scale + F.lit(0.5)) / scale).alias("lm_score"),
    )
