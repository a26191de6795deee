"""Dedup operator units on hand-built frames with known answers."""

from __future__ import annotations

from spotify_pipeline_gcp_spark.operators.dedup import (
    dedup_components,
    drop_stop_shingles,
    exact_dedup,
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
    (4, "completely different text about spark engines here"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark), "doc_id", "text")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]
    groups = {
        r.keep_id: r.n_copies
        for r in exact_dedup_groups(_docs(spark), "doc_id", "text").collect()
    }
    assert groups[1] == 2 and groups[3] == 1


def test_shingles_window(spark):
    sh = shingles(_docs(spark).where("doc_id = 4"), "doc_id", "text", n=3)
    got = {r.shingle for r in sh.collect()}
    assert "completely different text" in got
    assert len(got) == 5  # 7 tokens -> 5 trigrams


def test_jaccard_pairs(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.0
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.3 < pairs[(1, 3)] < 1.0  # near dup: shares most trigrams
    assert (1, 4) not in pairs  # no shared trigram at all


def test_minhash_identical_signatures(spark):
    sigs = minhash_signatures(_docs(spark), "doc_id", "text", num_hashes=4)
    by_doc = {}
    for r in sigs.collect():
        by_doc.setdefault(r.doc_id, {})[r.seed] = r.minhash
    assert by_doc[1] == by_doc[2]  # exact dups -> identical signature
    assert len(by_doc[1]) == 4


def test_capped_jaccard_matches_brute_force(spark):
    """The single-pass window plan (r13) must reproduce the
    from-first-principles capped Jaccard on a frame with planted
    structure: exact dups, a near dup, a disjoint doc, and a
    boilerplate shingle shared by everyone that the df cap drops."""
    boiler = "copyright footer text"
    docs = [
        (1, "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "alpha beta gamma delta epsilon zeta " + boiler),
        (3, "alpha beta gamma delta epsilon eta " + boiler),
        (4, "one two three four five six " + boiler),
        (5, "seven eight nine ten eleven twelve " + boiler),
        (6, "thirteen fourteen fifteen sixteen " + boiler),
    ]
    cap = 4
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.0, max_shingle_df=cap
        ).collect()
    }

    # brute force in Python over the SAME filtered shingle space
    def sh3(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sets = {d: sh3(t) for d, t in docs}
    from collections import Counter

    dfreq = Counter(s for v in sets.values() for s in v)
    kept = {d: {s for s in v if dfreq[s] <= cap} for d, v in sets.items()}
    want = {}
    ids = sorted(kept)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(kept[a] & kept[b])
            if inter:
                want[(a, b)] = inter / len(kept[a] | kept[b])
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, (k, got[k], v)


def test_capped_jaccard_string_ids(spark):
    """The group-local pair explode casts a NULL to the id type; it
    must stay type-generic (string ids order lexicographically in the
    a < b pair normalization)."""
    df = spark.createDataFrame(
        [
            ("docB", "the quick brown fox jumps over the lazy dog"),
            ("docA", "the quick brown fox jumps over the lazy dog"),
            ("docC", "utterly unrelated words in this one here now"),
        ],
        "doc_id string, text string",
    )
    pairs = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.8, max_shingle_df=10
    ).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in pairs] == [
        ("docA", "docB", 1.0)
    ]


def test_minhash_lsh_row_count_hint_same_pairs(spark):
    """``n_docs`` skips the eager probe without changing results."""
    base = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", threshold=0.8
        ).collect()
    }
    hinted = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", threshold=0.8,
            n_docs=len(DOCS),
        ).collect()
    }
    assert hinted == base


def test_minhash_lsh_finds_exact_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert (1, 2) in pairs


def test_stop_shingle_cap_drops_hot_shingle(spark):
    # "common boilerplate phrase" appears in every doc (df=4 > cap=3);
    # the distinctive tails share nothing, so with the cap applied the
    # near-identical pair (1,2) still pairs but the boilerplate-only
    # pairs disappear entirely.
    docs = spark.createDataFrame(
        [
            (1, "common boilerplate phrase alpha beta gamma"),
            (2, "common boilerplate phrase alpha beta delta"),
            (3, "common boilerplate phrase epsilon zeta eta"),
            (4, "common boilerplate phrase theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs, "doc_id", "text", n=3)
    capped = drop_stop_shingles(sh, max_df=3)
    kept = {r.shingle for r in capped.collect()}
    assert "common boilerplate phrase" not in kept  # df=4 > cap
    assert "boilerplate phrase alpha" in kept  # df=2 <= cap survives
    uncapped_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1).collect()
    }
    capped_pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, max_shingle_df=3
        ).collect()
    }
    assert (3, 4) in uncapped_pairs  # paired only through boilerplate
    assert (3, 4) not in capped_pairs
    assert (1, 2) in capped_pairs  # genuine near-dup survives the cap
    lsh_capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.1, max_shingle_df=3
        ).collect()
    }
    assert (3, 4) not in lsh_capped


def test_lsh_verification_bounded_by_candidates(spark):
    # Docs 3/4 share shingles (brute-force Jaccard would pair them at
    # threshold 0) but produce disjoint MinHash bands — LSH must not
    # emit them, proving verification runs on candidates, not on all
    # co-shingled pairs.
    pairs = minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", threshold=0.0
    )
    brute = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.0
        ).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert got.issubset(brute)
    # verification values agree with brute-force Jaccard exactly
    brute_vals = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), "doc_id", "text", threshold=0.0
        ).collect()
    }
    for r in pairs.collect():
        assert abs(r.jaccard - brute_vals[(r.doc_a, r.doc_b)]) < 1e-12


def test_simhash_equal_for_dups_and_bounded(spark):
    fps = {r.doc_id: r.simhash for r in simhash(_docs(spark), "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert all(0 <= v < 2**16 for v in fps.values())
    # near-dup fingerprints are close in Hamming distance
    ham = bin(fps[1] ^ fps[3]).count("1")
    assert ham <= 6


def test_components_transitive_closure(spark):
    # chain 1-2-3 plus isolated pair (10,11): closure puts {1,2,3}
    # in one component even though (1,3) is not a pair.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_components_long_chain_converges(spark):
    # worst-case diameter: a path graph; min label must flood end-to-end
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in dedup_components(pairs, max_iter=n + 1).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_components_string_ids(spark):
    # convergence must be type-agnostic: string node ids would null
    # out under a numeric-sum convergence check and stop after one
    # round on a chain — the changed-row count does not care.
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    comp = {r.doc_id: r.component for r in dedup_components(pairs).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_components_max_iter_raises(spark):
    # a 6-node path needs more than 2 rounds; truncation must be loud,
    # not silently partial
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(pairs, max_iter=2)


def test_lsh_rejects_partial_band(spark):
    import pytest

    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", num_hashes=7, rows_per_band=2
        )


def test_simhash_pairs_hamming_recall(spark):
    # 6 docs: (1,2) exact dup -> hamming 0; (1,3) near dup -> small
    # hamming; unrelated docs must not appear at a tight threshold.
    from spotify_pipeline_gcp_spark.operators.dedup import simhash_pairs

    docs = _docs(spark)
    fps = {
        r.doc_id: r.simhash
        for r in simhash(docs, "doc_id", "text", bits=32).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(
            docs, "doc_id", "text", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    assert got.get((1, 2)) == 0  # exact dup: identical fingerprint
    # band LSH is lossless for hamming <= bands-1: EVERY pair within
    # the radius must be found (pigeonhole), none invented
    for (a, b), ham in got.items():
        assert ham <= 3
        assert bin(fps[a] ^ fps[b]).count("1") == ham
    expected = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert set(got) == expected


def test_simhash_pairs_respects_band_divisibility(spark):
    import pytest

    from spotify_pipeline_gcp_spark.operators.dedup import simhash_pairs

    with pytest.raises(ValueError, match="divisible"):
        simhash_pairs(_docs(spark), "doc_id", "text", bits=30, bands=4)


def test_simhash_pairs_collapse_identical_fingerprint_clique(spark):
    # a planted clique of identical documents would contribute
    # c*(c-1)/2 pairs on one band reducer — collapse_identical=True
    # represents each distinct fingerprint once (min doc_id), so
    # intra-clique pairs vanish while cross-clique near-dup pairs
    # survive via the representative.
    from spotify_pipeline_gcp_spark.operators.dedup import simhash_pairs

    clique_text = (
        "the very same boilerplate document body repeated verbatim"
        " across many shards of the corpus"
    )
    near_text = clique_text + "!"  # hamming 2 at bits=32
    docs = spark.createDataFrame(
        [(i, clique_text) for i in range(1, 7)] + [(7, near_text), (8, "zq")],
        "doc_id long, text string",
    )
    full = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(
            docs, "doc_id", "text", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    collapsed = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(
            docs,
            "doc_id",
            "text",
            bits=32,
            bands=4,
            max_hamming=3,
            collapse_identical=True,
        ).collect()
    }
    clique = set(range(1, 7))
    # default: the quadratic clique pair set is all there (contract)
    assert {(a, b) for a, b in full if a in clique and b in clique} == {
        (a, b) for a in clique for b in clique if a < b
    }
    # collapsed: no intra-clique pair survives...
    assert not {(a, b) for a, b in collapsed if a in clique and b in clique}
    # ...the clique is represented by its min doc_id, and its
    # near-dup neighbour is still found through that representative
    near_hits = [(a, b) for a, b in collapsed if b == 7 or a == 7]
    assert near_hits and all(a == 1 or b == 1 for a, b in near_hits if 7 in (a, b))
    # the unrelated doc stays unpaired either way
    assert not [p for p in collapsed if 8 in p]


def test_simhash_rejects_bits_overflowing_long(spark):
    # the fingerprint packs into a signed BIGINT — bits >= 64 must
    # fail at the API boundary, not deep in expression construction
    import pytest

    from spotify_pipeline_gcp_spark.operators.dedup import simhash, simhash_pairs

    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash(_docs(spark), "doc_id", "text", bits=64)
    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash_pairs(_docs(spark), "doc_id", "text", bits=64, bands=4)
    with pytest.raises(ValueError, match=r"\[1, 63\]"):
        simhash(_docs(spark), "doc_id", "text", bits=0)


def test_capped_jaccard_bounds_inverted_lists(spark):
    # a planted hot shingle ("common boilerplate phrase" in all docs)
    # must be gone from the capped posting list: every surviving
    # shingle's document frequency is <= max_df, so no inverted list
    # (join key group) can exceed max_df rows — the property that
    # bounds the pair join at scale.
    docs = spark.createDataFrame(
        [
            (1, "common boilerplate phrase alpha beta gamma"),
            (2, "common boilerplate phrase alpha beta delta"),
            (3, "common boilerplate phrase epsilon zeta eta"),
            (4, "common boilerplate phrase theta iota kappa"),
            (5, "common boilerplate phrase lambda mu nu"),
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    capped = drop_stop_shingles(shingles(docs, "doc_id", "text", n=3), max_df=2)
    max_list = (
        capped.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert max_list is not None and max_list <= 2


def test_incremental_lsh_old_new_only(spark):
    # docs 1/2 are exact dups in the OLD corpus; doc 5 (new) matches
    # them; docs 3/4 pair with nothing new. The incremental operator
    # must emit old-x-new matches only — no old-x-old or new-x-new.
    from spotify_pipeline_gcp_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    old = _docs(spark)  # ids 1-4 (1,2 exact dups)
    new = spark.createDataFrame(
        [
            (5, "the quick brown fox jumps over the lazy dog"),  # dup of 1/2
            (6, "entirely unrelated new content never seen before ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_old, r.doc_new): r.jaccard
        for r in minhash_lsh_pairs_incremental(
            old, new, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got.get((1, 5)) == 1.0 and got.get((2, 5)) == 1.0
    assert all(dn in (5, 6) for _, dn in got)  # new side only on the right
    assert all(do in (1, 2, 3, 4) for do, _ in got)
    assert (1, 2) not in got and (1, 6) not in got


def test_keep_best_per_cluster_policy(spark):
    from spotify_pipeline_gcp_spark.operators.dedup import keep_best_per_cluster

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.1), (11, 0.1)],
        "doc_id long, q long" if False else "doc_id long, q double",
    )
    out = {
        r.component: (r.keep_id, r.n_members, r.best_score)
        for r in keep_best_per_cluster(comp, scores, "doc_id", "q").collect()
    }
    assert out[1] == (2, 3, 0.9)  # best score wins; tie (2 vs 3) -> min id
    assert out[10] == (10, 2, 0.1)


def test_simhash_pairs_bucket_cap_bounds_and_recall(spark):
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.dedup import simhash, simhash_pairs

    # many docs sharing boilerplate -> hot band buckets; two exact
    # dups must still pair through their (non-hot) identical bands
    docs = spark.createDataFrame(
        [(i, f"common shared boilerplate text unit {i % 7} extra") for i in range(30)]
        + [(100, "totally unique payload alpha"), (101, "totally unique payload alpha")],
        "doc_id long, text string",
    )
    capped = simhash_pairs(
        docs, "doc_id", "text", bits=32, bands=4, max_hamming=3, max_bucket=5
    )
    uncapped = simhash_pairs(
        docs, "doc_id", "text", bits=32, bands=4, max_hamming=3
    )
    got_c = {(r.doc_a, r.doc_b) for r in capped.collect()}
    got_u = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    assert got_c.issubset(got_u)  # cap only removes pairs
    assert (100, 101) in got_c  # exact dups in small buckets survive
    # surviving buckets are bounded: recompute band table and assert
    fps = simhash(docs, "doc_id", "text", bits=32)
    banded = fps.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright("simhash", b * 8).bitwiseAND(F.lit(255)).alias("bv"),
                )
                for b in range(4)
            ])
        ).alias("p"),
    ).select(F.col("p.band").alias("band"), F.col("p.bv").alias("bv"))
    ok_sizes = (
        banded.groupBy("band", "bv").count().where(F.col("count") <= 5)
    )
    assert ok_sizes.count() > 0  # some buckets survive the cap


def test_duplicated_spans_maximal_merge(spark):
    from spotify_pipeline_gcp_spark.operators.dedup import duplicated_spans

    rows = [
        (1, "a b c d e f g h i j"),      # span a..h shared with doc 2
        (2, "z z a b c d e f g h q r"),  # same span at offset 3
        (3, "u v w x y k1 k2 k3 k4"),    # no duplication
        (4, "p p p p p p p p p p"),      # pure self-repetition
        (5, "m\tn  o\np q r s t u2 v2"), # whitespace-normalized, unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_windows)
        for r in duplicated_spans(df, "doc_id", "text", w=4).collect()
    }
    assert out == {
        (1, 1, 8, 8, 5),   # maximal: 5 consecutive dup windows merged
        (2, 3, 10, 8, 5),
        (4, 1, 10, 10, 7),
    }


def test_duplicated_spans_disjoint_islands(spark):
    # two separated duplicated regions in one doc stay TWO spans
    from spotify_pipeline_gcp_spark.operators.dedup import duplicated_spans

    rows = [
        (1, "a b c X1 X2 X3 X4 X5 d e f"),
        (2, "a b c q1 q2 q3 q4 q5 d e f"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(df, "doc_id", "text", w=3).collect()
    )
    assert out == [(1, 1, 3), (1, 9, 11), (2, 1, 3), (2, 9, 11)]


def test_components_converge_on_long_chain(spark):
    """Pointer doubling's reason to exist (r10): a 120-link chain has
    diameter 120 >> max_iter=20, so plain min-label propagation fails
    loudly — with the label←label[label] shortcut each round doubles
    label reach and the chain closes in ~ceil(log2(120))+1 rounds.
    (The 1000x rung hit exactly this: same-base replicas daisy-chained
    by near-threshold cross-replica pairs.)"""
    from spotify_pipeline_gcp_spark.operators.dedup import dedup_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a long, doc_b long"
    )
    comp = dedup_components(edges)  # default max_iter=20
    rows = comp.collect()
    assert len(rows) == 121
    assert {r["component"] for r in rows} == {0}, (
        "one chain must collapse to its minimum label"
    )


def test_simhash_rejects_giant_documents(spark):
    """The packed counter lanes hold 20-bit '1'-counts, bounded by the
    per-doc token count; a document past 2^20 tokens must fail LOUDLY
    (raise_error) instead of silently overflowing a lane."""
    import pytest as _pytest

    from spotify_pipeline_gcp_spark.operators.dedup import simhash

    giant = " ".join(["tok"] * ((1 << 20) + 8))
    df = spark.createDataFrame([(1, giant)], "doc_id long, text string")
    with _pytest.raises(Exception, match="exceeds 2\\^20 tokens"):
        simhash(df, "doc_id", "text", bits=16).collect()


def test_sign_bucket_pairs_blas_agrees_with_fold_join(spark):
    """The quantized dgemm pair kernel (qd7c's engine) must emit the
    same pair SET as the fold-scored bucketed self-join (qd7b's
    shape) away from the threshold boundary, with id_a < id_b by
    VALUE, and every score a dyadic rational qdot / 2^40 (exactly
    representable — the hash-verification contract)."""
    import numpy as np
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _ASSIGN_QSCALE,
        _dot_pre,
        _double_base,
        sign_bucket,
        sign_bucket_pairs_blas,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 10, [float(x) for x in v]))
        # near-dup partner: tiny perturbation, same signs
        rows.append((i * 10 + 1, [float(x * 1.001) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {
        (r.id_a, r.id_b): r.cosine_q
        for r in sign_bucket_pairs_blas(
            emb, threshold=0.9, n_bits=3
        ).collect()
    }
    # fold twin over the same buckets
    b = _double_base(emb, "vec_id", "embedding").withColumn(
        "bucket", sign_bucket("v", 3)
    )
    a_, b_ = b.alias("a"), b.alias("b")
    cos = _dot_pre(F.col("a.v"), F.col("b.v")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    want = {
        (r.id_a, r.id_b)
        for r in a_.join(
            b_,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(cos >= 0.9)
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .collect()
    }
    # perturbations are ~1e-3 from cosine 1.0 — far beyond the 2^-20
    # quantization band, so the sets agree exactly
    assert set(got) == want and len(got) >= 6
    q2 = float(_ASSIGN_QSCALE) ** 2
    for (ia, ib), c in got.items():
        assert ia < ib
        assert c * q2 == round(c * q2), "score must be qdot / 2^40"


def test_lsh_sizing_probe_refuses_derived_frames(spark):
    """r13 verdict item #7: the auto-sizing count() must be
    unreachable on derived frames — a union'd input without ``n_docs``
    raises (naming the hint), the same input WITH the hint works, and
    bare/filtered scans keep the probe."""
    import pytest as _pytest

    docs = _docs(spark)
    # runtime-empty second branch (Catalyst can't prove it empty, so
    # the Union survives optimization and the plan counts as derived)
    derived = docs.union(docs.where("doc_id > 100"))
    with _pytest.raises(ValueError, match="n_docs"):
        minhash_lsh_pairs(derived, "doc_id", "text", threshold=0.8)
    hinted = minhash_lsh_pairs(
        derived, "doc_id", "text", threshold=0.8, n_docs=len(DOCS)
    )
    bare = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    assert {(r.doc_a, r.doc_b) for r in hinted.collect()} == {
        (r.doc_a, r.doc_b) for r in bare.collect()
    }
    # filtered scans are still scan-cheap: no hint needed
    minhash_lsh_pairs(
        docs.where("doc_id >= 0"), "doc_id", "text", threshold=0.8
    )
