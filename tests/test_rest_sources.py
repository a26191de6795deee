"""REST source adapters with an injected fake fetcher (S1-S4)."""

from __future__ import annotations

import datetime as dt

import pytest

from spotify_pipeline_gcp_spark.sources.rest import (
    ArtistGenresSource,
    AudioFeaturesSource,
    PlaybackHistorySource,
    cursor_after_midnight,
    extract_artist_ids,
    extract_track_ids,
)
from tests.conftest import playback_doc


def test_cursor_is_yesterday_midnight_utc():
    ms = cursor_after_midnight(dt.date(2026, 8, 13))
    assert ms == int(
        dt.datetime(2026, 8, 12, tzinfo=dt.timezone.utc).timestamp() * 1000
    )


def test_playback_source_declared_schema(spark):
    captured = {}

    def fake_fetch(endpoint, params):
        captured["endpoint"], captured["params"] = endpoint, params
        return playback_doc()

    src = PlaybackHistorySource(spark, fake_fetch)
    df = src.load(after_ms=123)
    assert captured["endpoint"].endswith("recently-played")
    assert captured["params"] == {"limit": 50, "after": 123}
    # declared nested schema, no inference
    assert df.schema["items"].dataType.typeName() == "array"
    from spotify_pipeline_gcp_spark.operators.playback import (
        build_playback_hist,
        explode_items,
    )

    # dup play collapsed
    assert build_playback_hist(explode_items(df)).count() == 4


def test_missing_fetcher_is_explicit(spark):
    with pytest.raises(NotImplementedError, match="fetcher"):
        PlaybackHistorySource(spark).load()


def test_audio_features_and_genres(spark):
    feats = AudioFeaturesSource(
        spark,
        lambda e, p: {
            "audio_features": [
                {"id": "t1", "danceability": 0.5, "energy": 0.9,
                 "key": 5, "loudness": -7.1, "tempo": 120.0,
                 "duration_ms": 200000}
            ]
        },
    ).load(["t1"])
    assert feats.collect()[0].tempo == 120.0

    genres = ArtistGenresSource(
        spark,
        lambda e, p: {
            "artists": [
                {"id": "a1", "name": "Solo", "genres": ["indie", "folk"],
                 "popularity": 60}
            ]
        },
    ).load(["a1"])
    assert genres.collect()[0].genres == ["indie", "folk"]


def test_id_extraction_matches_reference_semantics():
    doc = playback_doc()
    assert extract_track_ids(doc) == ["t1", "t2", "t3"]
    # all performing artists by default
    assert extract_artist_ids(doc) == ["a1", "a2", "a3"]
    # reference quirk: only artists[0] (spotify_api.py:59)
    assert extract_artist_ids(doc, first_only=True) == ["a1", "a2"]


def test_recommendations_source(spark):
    from spotify_pipeline_gcp_spark.sources.rest import RecommendationsSource

    calls = []

    def fake_fetch(endpoint, params):
        calls.append((endpoint, params))
        return {
            "tracks": [
                {
                    "id": "t9",
                    "name": "Rec One",
                    "popularity": 61,
                    "artists": [{"id": "a1", "name": "Artist"}],
                },
                {"id": "t10", "name": "Rec Two", "popularity": 12, "artists": []},
            ]
        }

    out = RecommendationsSource(spark, fake_fetch).load(["t1", "t2"], limit=2)
    rows = {r.id: r for r in out.collect()}
    assert calls == [
        ("v1/recommendations", {"seed_tracks": "t1,t2", "limit": 2})
    ]
    assert rows["t9"].artists[0].name == "Artist"
    assert rows["t10"].popularity == 12
    # empty response -> empty frame with the declared schema intact
    empty = RecommendationsSource(spark, lambda e, p: {}).load(["t1"])
    assert empty.count() == 0 and "popularity" in empty.columns


def test_feature_trend_composes_s2_with_fact(spark):
    # q50: the S2 audio-features dimension joins the playback fact and
    # the windowed trend is a weighted 3-day mean - spot-check one
    # user's arithmetic end to end against a hand rollup
    from collections import defaultdict

    from spotify_pipeline_gcp_spark.queries.compat import table
    from spotify_pipeline_gcp_spark.queries.extra import q50_feature_trend

    sf_dir = "/root/testdata/sf0.001"
    rows = q50_feature_trend(spark, sf_dir).collect()
    assert rows
    ev = table(spark, sf_dir, "events").collect()
    daily = defaultdict(lambda: [0, 0])  # (user, day) -> [n, e_sum]
    for r in ev:
        tid = r.event_id % 200
        d = r.ts.replace(hour=0, minute=0, second=0, microsecond=0)
        cell = daily[(r.user_id, d)]
        cell[0] += 1
        cell[1] += (tid * 59) % 991
    for row in rows:
        n, s = daily[(row.user_id, row.day)]
        assert row.n_plays == n
        import math

        want = math.floor(s / n / 990.0 * 10000 + 0.5) / 10000
        assert row.energy_avg == want
        # window never exceeds 3 days of mass and includes today
        wn = ws = 0
        for dd in range(3):
            from datetime import timedelta

            k = (row.user_id, row.day - timedelta(days=dd))
            if k in daily:
                wn += daily[k][0]
                ws += daily[k][1]
        assert row.energy_ma3 == math.floor(ws / wn / 990.0 * 10000 + 0.5) / 10000
