"""Property-based tests (hypothesis) for engine invariants.

Spark-touching properties keep ``max_examples`` small (a Spark round
trip per example); pure-Python helpers get the full default budget.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from spotify_pipeline_gcp_spark.sinks.landing import landing_path
from spotify_pipeline_gcp_spark.sources.rest import (
    cursor_after_midnight,
    extract_track_ids,
)

# ---- pure helpers: full example budget ------------------------------


@given(st.dates(min_value=dt.date(1990, 1, 2), max_value=dt.date(2100, 1, 1)))
def test_cursor_is_midnight_utc_of_previous_day(day):
    ms = cursor_after_midnight(day)
    back = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    assert back.date() == day - dt.timedelta(days=1)
    assert (back.hour, back.minute, back.second, ms % 1000) == (0, 0, 0, 0)


@given(st.dates(min_value=dt.date(1990, 1, 1), max_value=dt.date(2100, 1, 1)))
def test_landing_path_zero_padded_and_sortable(day):
    p = landing_path("/root_zone", day, "f.json")
    parts = p.split("/")
    assert parts[-4:] == [
        str(day.year), f"{day.month:02d}", f"{day.day:02d}", "f.json"
    ]


@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="abc123", min_size=1, max_size=4)),
        max_size=20,
    )
)
def test_extract_track_ids_dedup_order(ids):
    doc = {"items": [{"track": {"id": i}} for i in ids]}
    out = extract_track_ids(doc)
    non_null = [i for i in ids if i]
    # order-preserving dedup
    assert out == list(dict.fromkeys(non_null))


# ---- Spark properties: bounded example budget -----------------------


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="0123456789-", min_size=0, max_size=10), max_size=8
    )
)
def test_complete_year_only_pads_4char(spark, values):
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.functions.exprs import complete_year

    df = spark.createDataFrame([(v,) for v in values] or [("x",)], "d string")
    out = df.select("d", complete_year("d").alias("c")).collect()
    for r in out:
        if r.d is not None and len(r.d) == 4:
            assert r.c == r.d + "-12-31"
        else:
            assert r.c == r.d


@settings(max_examples=6, deadline=None)
@given(
    new=st.lists(st.integers(0, 30), min_size=1, max_size=15, unique=True),
    existing=st.lists(st.integers(0, 30), max_size=15, unique=True),
)
def test_delta_append_set_semantics(spark, new, existing):
    from spotify_pipeline_gcp_spark.operators.delta import delta_append

    ndf = spark.createDataFrame([(k,) for k in new], "k long")
    edf = (
        spark.createDataFrame([(k,) for k in existing], "k long")
        if existing
        else spark.createDataFrame([], "k long")
    )
    got = sorted(r.k for r in delta_append(ndf, edf, ["k"]).collect())
    assert got == sorted(set(new) - set(existing))


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_index_sizing_replays_in_sql_at_any_scale(n):
    # The auto-sized indexes are hash-verified only at test corpora
    # sizes; this pins the CROSS-ENGINE sizing arithmetic itself —
    # Python operators vs the exact SQL the oracles embed — for
    # corpus counts up to 10^12 (the 100 TB regime), so a sizing
    # divergence can never appear only beyond the tested scales.
    import duckdb

    from spotify_pipeline_gcp_spark.operators.similarity import (
        imi_cells_for,
        sign_bits_for,
        trained_cells_for,
    )

    # the REAL shared oracle snippet (qs13/qs23/qs9/qs15/qd7b/qd10 all
    # embed it via compat.SIZED_BITS_SQL), rebased from the view's
    # count(*) onto the generated n — drift in the constant itself now
    # fails here, not only at oracle-compare time
    from spotify_pipeline_gcp_spark.queries.compat import SIZED_BITS_SQL

    bits_sql = SIZED_BITS_SQL.replace("count(*)", "n")
    k_sql = "greatest(1, CAST(floor(sqrt(n)) AS BIGINT))"
    imi_sql = "greatest(2, CAST(ceil(sqrt(n / 256.0)) AS BIGINT))"
    expected_sql = "(n + greatest(1, CAST(floor(sqrt(n)) AS BIGINT)) - 1) // greatest(1, CAST(floor(sqrt(n)) AS BIGINT))"
    row = duckdb.sql(
        f"SELECT {bits_sql} AS bits, {k_sql} AS k, {imi_sql} AS ki, "
        f"{expected_sql} AS expected FROM (SELECT {n}::BIGINT AS n)"
    ).fetchone()
    assert row[0] == min(32, sign_bits_for(n))
    assert row[1] == trained_cells_for(n)
    assert row[2] == imi_cells_for(n)
    k = trained_cells_for(n)
    assert row[3] == (n + k - 1) // k


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**12),
    st.integers(min_value=1, max_value=10**6),
)
def test_train_fraction_replays_in_sql_at_any_scale(n, k):
    # min(1, 32k/n) as computed by _train_frac vs the oracles'
    # least(1.0, (32.0 * k) / n) — same IEEE double on both engines
    import duckdb

    from spotify_pipeline_gcp_spark.queries.similarity import _train_frac

    row = duckdb.sql(
        f"SELECT least(1.0, (32.0 * {k}) / n) FROM (SELECT {n}::BIGINT AS n)"
    ).fetchone()
    assert row[0] == _train_frac(n, k)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.lists(
                st.floats(-1, 1, allow_nan=False, width=32),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_cell_means_partition_invariant(spark, rows):
    # the quantized-integer positional mean must be BITWISE identical
    # under any partitioning/combine order — the property every
    # trainer's oracle-replayability rests on (exact BIGINT partials
    # commute; a float mean would not)
    from spotify_pipeline_gcp_spark.operators.similarity import _cell_means

    df = spark.createDataFrame(
        [(int(c), [float(x) for x in v], i) for i, (c, v) in enumerate(rows)],
        "cid long, u array<double>, id long",
    )
    a = {
        r.cid: r.mv for r in _cell_means(df.repartition(1), "cid").collect()
    }
    b = {
        r.cid: r.mv for r in _cell_means(df.repartition(7), "cid").collect()
    }
    assert a == b  # exact equality, not approx


def _reference_playback_hist(raw):
    """The fact table built the reference job's way, over the
    document's distinct items: distinct track rows (``parse_tracks``)
    left-joined on (played_at, track id) to the sorted bag of exploded
    artists (``bag_artists``, ``playback_pipeline.py:161-225,278-310``),
    then distinct and sorted."""
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.functions.exprs import complete_year
    from spotify_pipeline_gcp_spark.schemas import PLAYBACK_HIST_COLUMNS

    items = (
        raw.select(F.explode("items").alias("item"))
        .select("item.*")
        .dropDuplicates()
    )
    tracks = (
        items.select(
            "played_at",
            F.col("track.duration_ms").alias("duration_ms"),
            F.col("track.href").alias("track_href"),
            F.col("track.id").alias("track_id"),
            F.col("track.name").alias("track_name"),
            F.col("track.popularity").alias("popularity"),
            F.col("track.uri").alias("track_uri"),
            F.col("track.album.id").alias("album_id"),
            F.col("track.album.name").alias("album_name"),
            complete_year(F.col("track.album.release_date")).alias(
                "album_release_date"
            ),
            F.col("track.album.uri").alias("album_uri"),
        )
        .withColumn("duration_s", F.round(F.col("duration_ms") / 1000, 2))
        .withColumn("duration_min", F.round(F.col("duration_ms") / 60000, 2))
        .dropDuplicates()
    )
    bagged = (
        items.select(
            "played_at",
            F.col("track.id").alias("track_id"),
            F.explode("track.artists").alias("artist"),
        )
        .groupBy("played_at", "track_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("artist.name").alias("artist_name"),
                        F.col("artist.id").alias("artist_id"),
                        F.col("artist.uri").alias("artist_uri"),
                    )
                )
            ).alias("b")
        )
        .select(
            "played_at",
            F.col("track_id").alias("id"),
            F.array_join(F.transform("b", lambda a: a.artist_name), ", ").alias(
                "artist_names"
            ),
            F.array_join(F.transform("b", lambda a: a.artist_id), ", ").alias(
                "artist_ids"
            ),
        )
    )
    joined = tracks.join(
        bagged,
        on=(tracks.played_at == bagged.played_at) & (tracks.track_id == bagged.id),
        how="left",
    ).select(tracks["*"], bagged["artist_names"], bagged["artist_ids"])
    return joined.select(*PLAYBACK_HIST_COLUMNS).dropDuplicates().orderBy("played_at")


_artist = st.builds(
    lambda i, name: {
        "external_urls": {"spotify": f"https://open.example.com/artist/{i}"},
        "href": f"https://api.example.com/artists/{i}",
        "id": i,
        "name": name,
        "uri": None if i is None else f"spotify:artist:{i}",
    },
    st.sampled_from(["a1", "a2", "a3", None]),
    st.sampled_from(["Solo", 'Smith, John "JJ"', "Band B", None]),
)
_artists = st.none() | st.lists(st.none() | _artist, max_size=3)


def _track(track_id, artists, release_date, duration_ms):
    return {
        "album": {
            "id": "alb1",
            "name": "Album One",
            "release_date": release_date,
            "release_date_precision": "year"
            if release_date and len(release_date) == 4
            else "day",
            "uri": "spotify:album:alb1",
        },
        "artists": artists,
        "duration_ms": duration_ms,
        "href": None if track_id is None else f"https://api/tracks/{track_id}",
        "id": track_id,
        "name": f"Song {track_id}",
        "popularity": 50,
        "uri": None if track_id is None else f"spotify:track:{track_id}",
    }


# one track per id (NULL id included), as the source returns it: a play
# key (played_at, track id) can only repeat an identical item
_catalog = st.lists(
    st.tuples(
        _artists,
        st.sampled_from(["1999", "2020-05-17", "2001-03", None]),
        st.none() | st.integers(0, 500_000),
    ),
    min_size=1,
    max_size=4,
).map(lambda specs: [_track(i, *s) for i, s in zip(["t1", "t2", "t3", None], specs)])


@settings(max_examples=10, deadline=None)
@given(
    catalog=_catalog,
    plays=st.lists(
        st.tuples(
            st.sampled_from(
                ["2026-08-12T08:00:00.000Z", "2026-08-12T09:00:00.000Z", None]
            ),
            st.integers(0, 3),
        ),
        max_size=10,
    ),
)
def test_playback_hist_matches_join_reference(spark, catalog, plays):
    # the one-aggregate fact equals the tracks ⟕ artist-bag construction
    # over distinct items on duplicate plays, one track at two times,
    # NULL/empty artists and NULL artist elements, NULL keys, bare-year
    # dates and an empty document, and keeps played_at in global order
    import json

    from spotify_pipeline_gcp_spark.operators.playback import (
        build_playback_hist,
        explode_items,
    )
    from spotify_pipeline_gcp_spark.schemas import PLAYBACK_DOC

    doc = {
        "items": [
            {"played_at": at, "track": catalog[i % len(catalog)]}
            for at, i in plays
        ]
    }
    raw = spark.read.schema(PLAYBACK_DOC).json(
        spark.sparkContext.parallelize([json.dumps(doc)])
    )
    got = build_playback_hist(explode_items(raw)).collect()
    want = _reference_playback_hist(raw).collect()
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, want), key=repr)
    at = [r.played_at for r in got]
    assert at == sorted(at, key=lambda p: (p is not None, p or ""))


def _fold_topk_reference(vecs, cells, probes, k, unit):
    """(query_id, neighbor_id, cosine, rank) rows by the fold contract,
    in pure Python: left-fold dots, ``math.sqrt`` norms, the
    ``floor(x*1e6+0.5)/1e6`` score, then (-score, neighbor_id) order
    over the candidates whose rank-1 cell is one the query probes."""
    import math

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norm = {i: math.sqrt(dot(v, v)) for i, v in vecs.items()}

    def score(i, j):
        if unit:
            c = dot([x / norm[i] for x in vecs[i]], [x / norm[j] for x in vecs[j]])
        else:
            c = dot(vecs[i], vecs[j]) / (norm[i] * norm[j])
        return math.floor(c * 1e6 + 0.5) / 1e6

    rows = set()
    for i in vecs:
        probed = None if cells is None else {cells[i], *probes.get(i, ())}
        cand = sorted(
            ((-score(i, j), j) for j in vecs
             if j != i and (probed is None or cells[j] in probed)),
        )
        for r, (neg, j) in enumerate(cand[:k], start=1):
            rows.add((i, j, -neg, r))
    return rows


@settings(max_examples=12, deadline=None)
@given(
    points=st.lists(
        st.tuples(
            st.lists(st.integers(-2, 2), min_size=4, max_size=4).filter(any),
            st.integers(0, 2),
            st.integers(1, 2),
        ),
        min_size=1,
        max_size=12,
    ),
    shape=st.sampled_from(["all-pairs", "one probe", "two probes"]),
    unit=st.booleans(),
    k=st.integers(1, 4),
)
def test_fold_topk_matches_python_reference(spark, points, shape, unit, k):
    # _fold_topk, the one fold ANN ranking block, against a pure-Python
    # replay of its contract. Small integer components make exact
    # duplicates and k-boundary score ties common; the input's shape
    # (no cells / cells / cells + probe ranks) picks the window.
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _double_base,
        _fold_topk,
        _unit_vectors,
    )

    vecs = {i: [float(x) for x in v] for i, (v, _, _) in enumerate(points)}
    emb = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    )
    pts = (_unit_vectors if unit else _double_base)(emb, "vec_id", "embedding")
    cells, probes = None, {}
    if shape != "all-pairs":
        cells = {i: c for i, (_, c, _) in enumerate(points)}
        if shape == "two probes":
            # the second probe is always another cell than the query's own
            probes = {i: [(c + d) % 3] for i, (_, c, d) in enumerate(points)}
        ranked = [(i, c, 1) for i, c in cells.items()] + [
            (i, p, 2) for i, ps in probes.items() for p in ps
        ]
        assign = spark.createDataFrame(ranked, "id long, cell long, probe_rank long")
        pts = pts.join(assign, "id")
        if shape == "one probe":
            pts = pts.drop("probe_rank")
    got = {tuple(r) for r in _fold_topk(pts, k).collect()}
    assert got == _fold_topk_reference(vecs, cells, probes, k, unit)


def _lloyd_reference(vecs, k, n_iter, m, d_sub, spherical, quant):
    """Per-slice sorted (cid, c) lists by the Lloyd contract, in pure
    Python: seeds ranked by (md5(str(id)), id), left-fold dots from
    0.0 (or exact 2^20-quantized integer dots), argmax with ties to the
    lowest cid, means as ``sum(floor(x*1e9 + 0.5)) / (1e9*n)``, then a
    sqrt renorm (spherical) or none (L2, scored ``dot - 0.5*|c|^2``).
    A centroid that wins no point drops out; a zero-norm spherical
    mean raises ZeroDivisionError."""
    import hashlib
    import math

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def qdot(a, b):
        def q(v):
            return [math.floor(x * 2**20 + 0.5) for x in v]

        return sum(x * y for x, y in zip(q(a), q(b)))

    def score(u, c):
        if quant:
            return qdot(u, c)
        return dot(u, c) if spherical else dot(u, c) - 0.5 * dot(c, c)

    def cut(v, s):
        return v if d_sub is None else v[s * d_sub : (s + 1) * d_sub]

    rank = sorted(vecs, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    books = [{cid: cut(vecs[i], s) for cid, i in enumerate(rank[:k])} for s in range(m)]
    for _ in range(n_iter):
        for s, model in enumerate(books):
            cells = {}
            for v in vecs.values():
                u = cut(v, s)
                best = max(model, key=lambda cid: (score(u, model[cid]), -cid))
                cells.setdefault(best, []).append(u)
            books[s] = {}
            for cid, members in cells.items():
                n = len(members)
                mv = [
                    sum(math.floor(x * 1e9 + 0.5) for x in col) / (1e9 * n)
                    for col in zip(*members)
                ]
                if spherical:
                    norm = math.sqrt(dot(mv, mv))
                    mv = [x / norm for x in mv]
                books[s][cid] = mv
    return [sorted(b.items()) for b in books]


# trainer call, m, d_sub, spherical, quant — over 4-d points
_LLOYD_PATHS = {
    "spherical": (lambda S, p, k, n: [S.kmeans_centroids_on(p, k, n)], 1, None, True, False),
    "quantized": (lambda S, p, k, n: [S.kmeans_centroids_quant_on(p, k, n)], 1, None, True, True),
    "halves": (lambda S, p, k, n: S.kmeans_centroids_on_halves(p, 2, k, n), 2, 2, True, False),
    "pq m=2": (lambda S, p, k, n: S.pq_codebooks(p, 2, 2, k, n), 2, 2, False, False),
    "pq m=3": (lambda S, p, k, n: S.pq_codebooks(p, 3, 1, k, n), 3, 1, False, False),
}


# the drawn examples of both Lloyd tests: ``dup`` repeats the first
# points (exact ties)
_LLOYD_DRAWS = dict(
    path=st.sampled_from(sorted(_LLOYD_PATHS)),
    points=st.lists(
        st.lists(
            st.sampled_from([-1.0, -0.5, 0.0, 0.3, 0.5, 1.0]), min_size=4, max_size=4
        ),
        min_size=1,
        max_size=6,
    ),
    dup=st.integers(0, 3),
    k=st.integers(1, 7),
    n_iter=st.integers(1, 2),
)


def _each_lloyd_path(test):
    # one explicit example per trainer: two duplicated points, so a
    # duplicate seed wins no point and drops out, and k > n
    ties = [[1.0, 0.0, 0.5, 0.0], [0.0, 1.0, 0.0, 0.5]]
    for path in _LLOYD_PATHS:
        test = example(path=path, points=ties, dup=2, k=5, n_iter=2)(test)
    return test


@settings(max_examples=4, deadline=None)
@given(**_LLOYD_DRAWS)
@_each_lloyd_path
def test_lloyd_matches_python_reference(spark, path, points, dup, k, n_iter):
    # every trainer routed through _lloyd against a pure-Python replay
    # of its contract, compared repr for repr; ``dup`` repeats the first
    # points (exact ties). A zero-norm spherical mean must abort.
    from spotify_pipeline_gcp_spark.operators import similarity as S

    train, m, d_sub, spherical, quant = _LLOYD_PATHS[path]
    vecs = dict(enumerate(points + points[:dup]))
    pts = spark.createDataFrame(list(vecs.items()), "id long, u array<double>")
    try:
        want = _lloyd_reference(vecs, k, n_iter, m, d_sub, spherical, quant)
    except ZeroDivisionError:
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            train(S, pts, k, n_iter)
        return
    got = [sorted((r.cid, list(r.c)) for r in f.collect()) for f in train(S, pts, k, n_iter)]
    assert repr(got) == repr(want)


def _each_lloyd_path_zero_mean(test):
    # (1, 0) and (-1, 0) in one cell: a zero mean on every path
    zero = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    for path in _LLOYD_PATHS:
        test = example(path=path, points=zero, dup=0, k=1, n_iter=2)(test)
    return test


@settings(max_examples=200, deadline=None)
@given(**_LLOYD_DRAWS)
@_each_lloyd_path
@_each_lloyd_path_zero_mean
def test_lloyd_oracle_chain_matches_python_reference(path, points, dup, k, n_iter):
    # the oracles' CTE chain (_lloyd_ctes) run in DuckDB against the
    # same pure-Python replay as the engine's _lloyd, repr for repr —
    # one slice view per sub-quantizer, as the halves and PQ oracles
    # cut them. A zero-norm spherical mean: DuckDB's x / 0 is NULL, so
    # the centroid comes back all-NULL and the next assignment raises.
    import duckdb

    from spotify_pipeline_gcp_spark.queries.similarity import (
        _L2_SCORE,
        _argmax_cte,
        _cell_dot,
        _lloyd_ctes,
    )

    _, m, d_sub, spherical, quant = _LLOYD_PATHS[path]
    vecs = dict(enumerate(points + points[:dup]))
    con = duckdb.connect()
    con.execute("CREATE TABLE pts (vec_id BIGINT, u DOUBLE[])")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(vecs.items()))
    dot = _cell_dot(quant) if spherical else _L2_SCORE
    width = d_sub or 4

    def run(s, rounds, assign_next=False):
        # slice s trained for ``rounds`` rounds: its centroids, or one
        # more assignment over them
        lo, hi = s * width + 1, (s + 1) * width
        ctes = [
            f"v{s} AS (SELECT vec_id, u[{lo}:{hi}] AS u FROM pts)",
            *_lloyd_ctes(f"_{s}", f"v{s}", k, rounds, width, dot, spherical),
        ]
        out = f"cent{rounds}_{s}"
        if assign_next:
            ctes.append(_argmax_cte("nxt", f"v{s}", out, dot))
            out = "nxt"
        sql = "WITH " + ",\n".join(ctes) + f" SELECT * FROM {out}"
        return con.sql(sql).fetchall()

    def reference(rounds):
        try:
            return _lloyd_reference(vecs, k, rounds, m, d_sub, spherical, quant)
        except ZeroDivisionError:
            return None

    want = reference(n_iter)
    if want is None:
        bad = next(i for i in range(1, n_iter + 1) if reference(i) is None)
        nulls = [
            s for s in range(m)
            if any(all(x is None for x in c) for _, c in run(s, bad))
        ]
        assert nulls
        for s in nulls:
            with pytest.raises(duckdb.InvalidInputException, match="NULL"):
                run(s, bad, assign_next=True)
        return
    got = [sorted((cid, list(c)) for cid, c in run(s, n_iter)) for s in range(m)]
    assert repr(got) == repr(want)


def test_qt_all_literal_tolerates_missing_codes(spark):
    # ADVICE r8: a sub-codebook missing a mid-range cid (empty Lloyd
    # cluster) must yield a 0 table slot, not a plan-build KeyError —
    # such codes can never appear in pq_encode output for that book
    from pyspark.sql import functions as F

    from spotify_pipeline_gcp_spark.operators.similarity import (
        _qt_all_literal,
    )

    full = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, [0.5, 0.5])],
        "cid long, c array<double>",
    )
    gappy = spark.createDataFrame(  # missing cid=1 and cid=2
        [(0, [1.0, 0.0]), (3, [0.25, 0.75])], "cid long, c array<double>"
    )
    df = spark.createDataFrame([([1.0, 0.0, 0.0, 1.0],)], "u array<double>")
    out = df.select(
        _qt_all_literal([full, gappy], m=2, d_sub=2).alias("qt")
    ).collect()[0]["qt"]
    assert len(out) == 2 and len(out[0]) == 4 and len(out[1]) == 4
    assert out[1][1] == 0 and out[1][2] == 0  # absent codes -> 0 sentinel
    assert out[0][0] != 0  # present codes still score


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=10**12))
def test_simhash_sizing_replays_in_sql_at_any_scale(n):
    # qd9b's adaptive fingerprint width vs the exact SQL snippet its
    # oracles embed — the same cross-engine pin as the ANN sizings
    import duckdb

    from spotify_pipeline_gcp_spark.operators.dedup import simhash_bits_for
    from spotify_pipeline_gcp_spark.queries.dedup import _SIMHASH_WIDTH_SQL

    row = duckdb.sql(
        f"SELECT {_SIMHASH_WIDTH_SQL} AS w FROM (SELECT {n}::BIGINT AS n)"
    ).fetchone()
    assert 4 * row[0] == simhash_bits_for(n)


# one-token, repeated-token and empty documents ('' tokens come from
# doubled spaces), NULL texts, and edge lists with chains and cycles
_DEDUP_TOKENS = st.lists(st.sampled_from(["a", "b", "the", "dup", "x1", ""]), max_size=8)
_DEDUP_DOCS = st.lists(st.one_of(st.none(), _DEDUP_TOKENS.map(" ".join)), max_size=8)
_DEDUP_EDGES = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=12
)


@settings(max_examples=6, deadline=None)
@given(docs=_DEDUP_DOCS, edges=_DEDUP_EDGES)
@example(
    docs=["", "a", "dup dup dup", "the a the a b", None],
    edges=[(i, i + 1) for i in range(9)] + [(3, 1)],  # a chain with a cycle
)
def test_dedup_oracle_chains_match_operators(spark, docs, edges):
    # the dedup oracles' shared CTE chains run in DuckDB against the
    # operators they replay: the SimHash fingerprints at the fixed 16
    # and 32 bits and at the adaptive 48 (w = 12: bits >= 32 come from
    # the salted second digest), and the closure's components
    import duckdb
    import pandas as pd

    from spotify_pipeline_gcp_spark.operators.dedup import (
        dedup_components,
        simhash,
        simhash_bits_for,
    )
    from spotify_pipeline_gcp_spark.queries.dedup import (
        _COMP_CTE,
        _SIMHASH_WIDTH_SQL,
        _closure_ctes,
        _simhash_ctes,
    )

    con = duckdb.connect()
    documents = pd.DataFrame(  # noqa: F841 - read by DuckDB by name
        {"doc_id": range(len(docs)), "text": pd.Series(docs, dtype=object)}
    )
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    n = 16_000  # a corpus size whose adaptive width is w = 12
    assert simhash_bits_for(n) == 48
    chains = {
        16: _simhash_ctes(16),
        32: _simhash_ctes(32),
        48: f"""sizen AS (SELECT {n}::BIGINT AS n),
    sizew AS (SELECT {_SIMHASH_WIDTH_SQL} AS w FROM sizen),
    {_simhash_ctes()}""",
    }
    for bits, ctes in chains.items():
        fps = simhash(df, "doc_id", "text", bits=bits)
        want = sorted(tuple(r) for r in fps.collect())
        got = con.sql(f"WITH {ctes} SELECT doc_id, simhash FROM fp").fetchall()
        assert sorted(got) == want, bits

    pairs = pd.DataFrame(edges, columns=["doc_a", "doc_b"], dtype="int64")  # noqa: F841
    comp = dedup_components(
        spark.createDataFrame(edges, "doc_a long, doc_b long")
    )
    want = sorted(tuple(r) for r in comp.collect())
    got = sorted(
        con.sql(
            f"WITH RECURSIVE {_closure_ctes('(SELECT doc_a, doc_b FROM pairs)')},"
            f" {_COMP_CTE} SELECT doc_id, component FROM comp"
        ).fetchall()
    )
    assert got == want


def _topk_loop(sims, q_ids, d_ids, k):
    """The per-query-row top-k loop ``kernels.topk_tiled`` replaced,
    kept as its reference: (query_id, neighbor_id, score) tuples."""
    sims = np.array(sims, dtype="float64")
    sims[q_ids[:, None] == d_ids[None, :]] = -np.inf
    kk = min(k, sims.shape[1])
    rows = []
    for r in range(sims.shape[0]):
        s = sims[r]
        if kk < s.shape[0]:
            top = np.argpartition(-s, kk - 1)[:kk]
            thresh = s[top].min()
            if np.isfinite(thresh):
                top = np.concatenate(
                    (top[s[top] > thresh], np.nonzero(s == thresh)[0])
                )
        else:
            top = np.arange(s.shape[0])
        top = top[np.lexsort((d_ids[top], -s[top]))][:kk]
        for j in top:
            if np.isfinite(s[j]):
                rows.append((int(q_ids[r]), int(d_ids[j]), float(s[j])))
    return rows


@st.composite
def _topk_case(draw):
    """Tie-heavy integer scores with NaN rows and columns (zero
    vectors), ±inf entries and shared query/neighbor ids (self-pairs),
    as a score matrix or as the (qm, dm) blocks that score it."""
    n_q, n_d = draw(st.integers(0, 7)), draw(st.integers(0, 7))

    def ids(n):
        return np.array(
            draw(st.lists(st.integers(0, 9), min_size=n, max_size=n, unique=True)),
            dtype="int64",
        )

    def some(n):  # the rows or columns set to NaN
        return draw(st.lists(st.integers(0, n - 1), max_size=2)) if n else []

    def matrix(rows, cols, cell):
        return np.array(
            [[draw(cell) for _ in range(cols)] for _ in range(rows)], dtype="float64"
        ).reshape(rows, cols)

    q_ids, d_ids = ids(n_q), ids(n_d)
    if draw(st.booleans()):
        dim = draw(st.integers(1, 3))
        qm = matrix(n_q, dim, st.integers(-1, 1))
        dm = matrix(n_d, dim, st.integers(-1, 1))
        qm[some(n_q)] = np.nan
        dm[some(n_d)] = np.nan
        return (qm, dm), qm @ dm.T, q_ids, d_ids
    sims = matrix(n_q, n_d, st.sampled_from([-1.0, 0.0, 1.0, 2.0, -np.inf, np.inf]))
    sims[some(n_q)] = np.nan
    sims[:, some(n_d)] = np.nan
    return sims, sims, q_ids, d_ids


@settings(max_examples=300, deadline=None)
@given(
    case=_topk_case(),
    k=st.integers(1, 9),
    budget=st.sampled_from([1, 8, 24, 1 << 20]),
)
@example(  # one exact tie across the k-boundary, the first of them a self-pair
    case=(
        np.array([[1.0, 1.0, 1.0, 0.0]]),
        np.array([[1.0, 1.0, 1.0, 0.0]]),
        np.array([2]),
        np.array([2, 5, 3, 1]),
    ),
    k=1,
    budget=8,
)
def test_topk_tiled_matches_per_row_loop(case, k, budget):
    # kernels.topk_tiled against the loop it replaced: same rows in the
    # same order, for both inputs (a score matrix, or blocks it scores
    # tile by tile), k below, at and above the neighbor count, and
    # budgets from one-row tiles to one tile for the whole block
    from spotify_pipeline_gcp_spark.operators import kernels

    given_, sims, q_ids, d_ids = case
    got = kernels.topk_tiled(given_, q_ids, d_ids, k, budget)
    assert [a.dtype.kind for a in got] == ["i", "i", "f"]
    assert list(zip(*[a.tolist() for a in got])) == _topk_loop(sims, q_ids, d_ids, k)


def test_row_tiles_bound_and_cover():
    # the tile planner: every query row in exactly one tile, in order,
    # and no tile's float64 score slab above the budget unless a single
    # row is already wider than it (then each row is its own tile)
    from spotify_pipeline_gcp_spark.operators.kernels import row_tiles

    for n_q in range(0, 40):
        for n_d in range(0, 40, 3):
            for budget in (1, 8, 64, 200, 1000, 32 << 20):
                tiles = row_tiles(n_q, n_d, budget)
                assert [r for a, b in tiles for r in range(a, b)] == list(range(n_q))
                for a, b in tiles:
                    assert b > a
                    if 8 * n_d <= budget:
                        assert (b - a) * n_d * 8 <= budget
                    else:
                        assert b - a == 1
                # tiles are as large as the budget allows
                if 0 < 8 * n_d <= budget and len(tiles) > 1:
                    assert (tiles[0][1] - tiles[0][0] + 1) * n_d * 8 > budget


@settings(max_examples=100, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.floats(-1e3, 1e3, width=32), min_size=3, max_size=3),
        min_size=0,
        max_size=6,
    ),
    pad=st.integers(0, 3),
)
def test_arrow_unpack_matches_per_item_stack(vecs, pad):
    # kernels.unpack reads a packed collect_list(struct(id, v)) cell as
    # whole Arrow columns; it must give the per-item stack's ids and
    # float64 matrix, also for a cell sliced out of a longer list column
    # (the offsets of a batch's row), and refuse ragged or NULL vectors
    import pyarrow as pa

    from spotify_pipeline_gcp_spark.operators import kernels

    item = pa.struct([("id", pa.int64()), ("v", pa.list_(pa.float32()))])
    cell = [{"id": 10 + i, "v": v} for i, v in enumerate(vecs)]
    col = pa.array([[{"id": 0, "v": [0.0] * 2}]] * pad + [cell], pa.list_(item))
    ids, mat = kernels.unpack(col[pad].values)
    assert ids.dtype == "int64" and ids.tolist() == [10 + i for i in range(len(vecs))]
    want = np.array(vecs, dtype="float32").astype("float64").reshape(len(vecs), -1 if vecs else 0)
    assert mat.dtype == "float64" and mat.shape == want.shape
    assert mat.tobytes() == want.tobytes()
    for bad in ([1.0, 2.0] if vecs else None, None):
        ragged = pa.array([cell + [{"id": 99, "v": bad}]], pa.list_(item))
        with pytest.raises(ValueError, match="equal-length"):
            kernels.unpack(ragged[0].values)
