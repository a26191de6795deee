"""Text-analysis operator units."""

from __future__ import annotations

import pytest

from spotify_pipeline_gcp_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lang_id_picks_dominant_language(spark):
    df = _docs(
        spark,
        [
            (1, "the cat is in the house and it is warm"),
            (2, "el gato en la casa y el perro en el patio"),
            (3, "qwerty zxcvb asdfgh"),
        ],
    )
    out = {r.doc_id: r.pred_lang for r in lang_id(df, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_quality_score_features(spark):
    df = _docs(spark, [(1, "the quick fox 123 runs.")])
    r = quality_score(df, "doc_id", "text").collect()[0]
    assert r.n_chars_calc == 23
    assert r.n_tokens == 5
    assert r.digit_chars == 3
    assert r.punct_chars == 1
    assert r.stop_ratio == pytest.approx(0.2)  # "the"
    assert 0.0 <= r.quality <= 1.0


def test_token_stats(spark):
    df = _docs(spark, [(1, "a b a longestword b")])
    r = token_stats(df, "doc_id", "text").collect()[0]
    assert r.n_tokens == 5
    assert r.n_distinct == 3
    assert r.ttr == pytest.approx(0.6)
    assert r.max_tok_len == 11


def test_fingerprint_order_sensitive(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")])
    fps = {r.doc_id: r.fingerprint for r in fingerprint(df, "doc_id", "text").collect()}
    assert fps[1] == fps[3]  # deterministic
    assert fps[1] != fps[2]  # order matters (unlike bag-of-words)


def test_repetition_stats_planted(spark):
    from spotify_pipeline_gcp_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),      # one distinct 2-/3-gram
            (2, "all tokens here are different"),  # no repeats
            (3, "x"),                              # below n-gram length
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert rows[1].n3_grams == 3 and rows[1].dup3_ratio == 2 / 3
    assert rows[1].n2_grams == 4 and rows[1].dup2_ratio == 3 / 4
    assert not rows[1].keep
    assert rows[2].dup3_ratio == 0.0 and rows[2].keep
    assert rows[3].n2_grams == 0 and rows[3].dup3_ratio == 0.0 and rows[3].keep


def test_contamination_pairs_planted(spark):
    from spotify_pipeline_gcp_spark.operators.text import contamination_pairs

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares two distinct 4-grams with the benchmark
            (1, "he said the quick brown fox jumps again"),
            (2, "completely unrelated text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in contamination_pairs(corpus, bench, "doc_id", "text", n=4).collect()
    }
    assert got == {(1, 100): 2}  # 'the quick brown fox', 'quick brown fox jumps'


def test_pii_scrub_planted(spark):
    from spotify_pipeline_gcp_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or +1 (555) 123-4567 now"),
            (2, "server at 192.168.0.1 responded"),
            (3, "no personal data in this sentence"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs, "doc_id", "text").collect()}
    assert rows[1].n_emails == 1 and rows[1].n_phones == 1
    assert "[EMAIL]" in rows[1].clean_text and "[PHONE]" in rows[1].clean_text
    assert "example" not in rows[1].clean_text
    assert rows[2].n_ips == 1 and "[IP]" in rows[2].clean_text
    assert rows[3].clean_text == "no personal data in this sentence"
    assert (rows[3].n_emails, rows[3].n_ips, rows[3].n_phones) == (0, 0, 0)


def test_contamination_pairs_whitespace_tokens(spark):
    # gram extraction is \S+-token based: double spaces yield no empty
    # tokens, so the planted overlap is still found across them
    from spotify_pipeline_gcp_spark.operators.text import contamination_pairs

    bench = spark.createDataFrame(
        [(9, "alpha beta  gamma delta tail")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta")], "doc_id long, text string"
    )
    got = [
        (r.doc_id, r.bench_id, r.n_shared)
        for r in contamination_pairs(corpus, bench, "doc_id", "text", n=4).collect()
    ]
    assert got == [(1, 9, 1)]  # 'alpha beta gamma delta' despite the double space


def test_contamination_pairs_tabs_newlines(spark):
    # tabs and newlines separate tokens exactly like spaces (\s+
    # normalization): the planted 4-gram spans a tab and a newline
    from spotify_pipeline_gcp_spark.operators.text import contamination_pairs

    bench = spark.createDataFrame(
        [(9, "alpha\tbeta gamma\ndelta tail")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix alpha beta\tgamma delta"),
            (2, "alpha-beta gamma delta unrelated"),  # no token match
        ],
        "doc_id long, text string",
    )
    got = [
        (r.doc_id, r.bench_id, r.n_shared)
        for r in contamination_pairs(corpus, bench, "doc_id", "text", n=4).collect()
    ]
    assert got == [(1, 9, 1)]


def test_chunk_documents_boundaries(spark):
    from spotify_pipeline_gcp_spark.operators.text import chunk_documents

    toks120 = " ".join(f"t{i}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, toks120),          # 120 tokens -> chunks at 0 and 56 (64 tok each)
            (2, "a b c"),          # short: one 3-token chunk
            (3, "x\t y\n\nz  w"),  # whitespace soup: 4 tokens, one chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.chunk_n_tokens) for r in out.collect())
    )
    assert rows == [(1, 0, 64), (1, 1, 64), (2, 0, 3), (3, 0, 4)]
    by_key = {
        (r.doc_id, r.chunk_id): r.chunk_text for r in out.collect()
    }
    # overlap: chunk 1 starts at token 56, so tokens 56..63 appear in both
    assert by_key[(1, 0)].split(" ")[56:] == by_key[(1, 1)].split(" ")[:8]
    assert by_key[(3, 0)] == "x y z w"


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from spotify_pipeline_gcp_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "doc_id", "text", chunk_tokens=8, overlap=8)


def test_ngram_lm_score_planted(spark):
    from spotify_pipeline_gcp_spark.operators.text import ngram_lm_score

    # corpus: "a b" x3, "a c" x1 => P(b|a)=3/4, P(c|a)=1/4
    df = _docs(
        spark,
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c"), (5, "solo")],
    )
    out = {r.doc_id: r for r in ngram_lm_score(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}  # doc 5 has no bigrams -> excluded
    assert out[1].n_bigrams == 1
    assert out[1].sum_q == 750000  # (1e6 * 3) div 4
    assert out[1].lm_score == 0.75
    assert out[4].sum_q == 250000
    assert out[4].lm_score == 0.25


def test_ngram_lm_score_degenerate_docs_excluded(spark):
    from spotify_pipeline_gcp_spark.operators.text import ngram_lm_score

    # documents with fewer than two tokens have no transitions: empty,
    # whitespace-only, NULL and one-token texts are all left out, and
    # they add nothing to the counts of the others
    rows = [(1, "a b"), (2, ""), (3, " \t "), (4, None), (5, "solo"), (6, " a ")]
    out = ngram_lm_score(_docs(spark, rows), "doc_id", "text").collect()
    assert [(r.doc_id, r.n_bigrams, r.sum_q) for r in out] == [(1, 1, 1_000_000)]


def test_ngram_lm_score_typical_beats_atypical(spark):
    from spotify_pipeline_gcp_spark.operators.text import ngram_lm_score

    # many documents share the same phrasing; one is scrambled
    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "mat the on sat cat the"))
    out = {
        r.doc_id: r.lm_score
        for r in ngram_lm_score(_docs(spark, rows), "doc_id", "text").collect()
    }
    assert out[0] > out[99]


def test_ngram_lm_score_whitespace_tokens(spark):
    from spotify_pipeline_gcp_spark.operators.text import ngram_lm_score

    # tabs/newlines separate tokens exactly like spaces
    a = ngram_lm_score(_docs(spark, [(1, "x\ty\nz")]), "doc_id", "text")
    b = ngram_lm_score(_docs(spark, [(1, "x y z")]), "doc_id", "text")
    assert a.collect() == b.collect()


def test_regex_ngrams_identical_to_transform_ngrams(spark):
    # _split_ngrams_regex is the codegen fast path repetition_stats
    # runs (294.6 s -> 17.3 s at the 100x ladder point); _word_ngrams
    # is the retained exactness twin. They must agree token-for-token
    # under split(' ') semantics — INCLUDING empty tokens from doubled
    # / leading / trailing spaces, which \S+-based grams would drop.
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.text import (
        _split_ngrams_regex,
        _tokens,
        _word_ngrams,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    adv = spark.createDataFrame(
        [
            ("x1", "a  b c"),
            ("x2", " lead"),
            ("x3", "trail "),
            ("x4", ""),
            ("x5", "one"),
            ("x6", "a b"),
            ("x7", "  "),
            ("x8", "tab\there space"),
            # NULL text must yield [] on BOTH paths: regexp_extract_all
            # propagates NULL without the coalesce guard, and a NULL
            # gram array silently NULLs downstream dup counts where
            # the transform path returned 0 (ADVICE r9).
            ("x9", None),
        ],
        "doc_id string, text string",
    )
    both = docs.select("doc_id", "text").unionByName(adv)
    for n in (2, 3, 4):
        mismatches = (
            both.select(
                _split_ngrams_regex("text", n).alias("rg"),
                _word_ngrams(_tokens("text"), n).alias("tg"),
            )
            # null-SAFE compare: a NULL on either side is a mismatch
            # the plain != would silently filter out
            .where(~F.col("rg").eqNullSafe(F.col("tg")))
            .count()
        )
        assert mismatches == 0, f"n={n}: regex grams != transform grams"


def test_ngram_lm_score_n_docs_hint_same_result(spark):
    """The sizing hint (ADVICE r13: no full-plan recompute for a
    derived input) must not change results — it only bounds the
    instance-slice repartition."""
    from spotify_pipeline_gcp_spark.operators.text import ngram_lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x y"), (3, "c c c")],
        "doc_id long, text string",
    )
    base = {
        (r.doc_id, r.n_bigrams, r.sum_q)
        for r in ngram_lm_score(docs, "doc_id", "text").collect()
    }
    hinted = {
        (r.doc_id, r.n_bigrams, r.sum_q)
        for r in ngram_lm_score(docs, "doc_id", "text", n_docs=3).collect()
    }
    assert hinted == base and len(base) == 3
