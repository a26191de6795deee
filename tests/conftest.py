from __future__ import annotations

import json
import uuid

import pytest

from spotify_pipeline_gcp_spark.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("spark_warehouse"))
    s = get_spark(
        "tests",
        cpus=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


def jobs_run(spark, action) -> int:
    """Spark jobs ``action()`` launches, counted under its own job group."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _track(
    track_id: str,
    name: str,
    artists: list[tuple[str, str]],
    album_id: str = "alb1",
    album_name: str = "Album One",
    release_date: str = "2020-05-17",
    release_date_precision: str = "day",
    duration_ms: int = 200_000,
    popularity: int = 55,
) -> dict:
    return {
        "album": {
            "album_type": "album",
            "href": f"https://api.example.com/albums/{album_id}",
            "id": album_id,
            "name": album_name,
            "release_date": release_date,
            "release_date_precision": release_date_precision,
            "total_tracks": 10,
            "type": "album",
            "uri": f"spotify:album:{album_id}",
            "artists": [{"id": a_id, "name": a_name} for a_id, a_name in artists],
        },
        "artists": [
            {
                "external_urls": {"spotify": f"https://open.example.com/artist/{a_id}"},
                "href": f"https://api.example.com/artists/{a_id}",
                "id": a_id,
                "name": a_name,
                "uri": f"spotify:artist:{a_id}",
            }
            for a_id, a_name in artists
        ],
        "duration_ms": duration_ms,
        "href": f"https://api.example.com/tracks/{track_id}",
        "id": track_id,
        "name": name,
        "popularity": popularity,
        "type": "track",
        "uri": f"spotify:track:{track_id}",
    }


def playback_doc() -> dict:
    """FIXTURES.md §F1 edge rows:

    1. bare-year release date; 2. multi-artist track; 3. duplicate play;
    4. same track at two timestamps; 5. artist name with comma/quote.
    """
    items = [
        # bare-year release date (edge 1)
        {
            "played_at": "2026-08-12T08:00:00.000Z",
            "track": _track(
                "t1",
                "Year Only Song",
                [("a1", "Solo Artist")],
                album_id="alb_year",
                album_name="Vintage",
                release_date="1999",
                release_date_precision="year",
            ),
        },
        # multi-artist track (edge 2), artist name with comma+quote (edge 5)
        {
            "played_at": "2026-08-12T09:00:00.000Z",
            "track": _track(
                "t2",
                "Duet",
                [("a2", 'Smith, John "JJ"'), ("a3", "Band B")],
                duration_ms=123_456,
            ),
        },
        # duplicate play — identical item twice (edge 3)
        {
            "played_at": "2026-08-12T10:00:00.000Z",
            "track": _track("t3", "Repeat Me", [("a1", "Solo Artist")]),
        },
        {
            "played_at": "2026-08-12T10:00:00.000Z",
            "track": _track("t3", "Repeat Me", [("a1", "Solo Artist")]),
        },
        # same track, different timestamp (edge 4) — both survive
        {
            "played_at": "2026-08-12T11:30:00.000Z",
            "track": _track("t3", "Repeat Me", [("a1", "Solo Artist")]),
        },
    ]
    return {"items": items}


@pytest.fixture(scope="session")
def playback_json_path(tmp_path_factory) -> str:
    p = tmp_path_factory.mktemp("landing") / "playback_hist.json"
    p.write_text(json.dumps(playback_doc(), indent=1))
    return str(p)


@pytest.fixture(scope="session")
def empty_playback_json_path(tmp_path_factory) -> str:
    p = tmp_path_factory.mktemp("landing_empty") / "playback_hist.json"
    p.write_text(json.dumps({"items": []}))
    return str(p)


@pytest.fixture(scope="session")
def raw_playback(spark, playback_json_path):
    from spotify_pipeline_gcp_spark.schemas import PLAYBACK_DOC
    from spotify_pipeline_gcp_spark.sources.readers import read_json

    return read_json(spark, playback_json_path, PLAYBACK_DOC)
