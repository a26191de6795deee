"""Clean-zone pipeline parity tests (FIXTURES.md edge rows).

Each behavior cites the reference it mirrors; deliberate improvements
(sorted bags) are asserted as such.
"""

from __future__ import annotations

import json

from spotify_pipeline_gcp_spark.operators.playback import (
    build_playback_hist,
    curate,
    explode_items,
    parse_albums,
    parse_artists,
    run_clean_zone,
)
from spotify_pipeline_gcp_spark.plans.inspect import exchange_count
from spotify_pipeline_gcp_spark.schemas import (
    ALBUMS_COLUMNS,
    ARTISTS_COLUMNS,
    PLAYBACK_HIST_COLUMNS,
    PLAYBACK_DOC,
)
from spotify_pipeline_gcp_spark.sinks.writers import write_parquet
from spotify_pipeline_gcp_spark.sources.readers import read_json
from tests.conftest import jobs_run, playback_doc


def test_parse_albums_contract_and_year_padding(raw_playback):
    albums = parse_albums(explode_items(raw_playback))
    assert albums.columns == ALBUMS_COLUMNS
    rows = {r.album_id: r for r in albums.collect()}
    # bare year padded to YYYY-12-31 (ref playback_pipeline.py:151-158)
    assert rows["alb_year"].album_release_date == "1999-12-31"
    assert rows["alb_year"].album_release_date_precision == "year"
    # full dates pass through
    assert rows["alb1"].album_release_date == "2020-05-17"
    # distinct: t3's album appears once despite three plays
    assert albums.count() == len(rows)


def test_parse_artists_distinct_and_nested_url(raw_playback):
    artists = parse_artists(explode_items(raw_playback))
    assert artists.columns == ARTISTS_COLUMNS
    rows = {r.artist_id: r for r in artists.collect()}
    assert len(rows) == 3  # a1, a2, a3 — deduped across plays
    # doubly-nested external_urls.spotify (ref :121)
    assert rows["a2"].artist_spotify_url == "https://open.example.com/artist/a2"


def test_bag_artists_sorted_csv(raw_playback):
    bags = {
        (r.played_at, r.track_id): r
        for r in build_playback_hist(explode_items(raw_playback)).collect()
    }
    duet = bags[("2026-08-12T09:00:00.000Z", "t2")]
    # multi-artist bag joined ", "; sorted by name (deliberate
    # determinism improvement over ref collect_list order)
    assert duet.artist_names == 'Band B, Smith, John "JJ"'
    assert duet.artist_ids == "a3, a2"
    solo = bags[("2026-08-12T08:00:00.000Z", "t1")]
    assert solo.artist_names == "Solo Artist"
    # a play delivered twice bags its artists once (IMPROVED: the
    # reference bags both copies, "Solo Artist, Solo Artist")
    twice = bags[("2026-08-12T10:00:00.000Z", "t3")]
    assert (twice.artist_names, twice.artist_ids) == ("Solo Artist", "a1")


def test_playback_hist_grain_and_contract(raw_playback):
    hist = build_playback_hist(explode_items(raw_playback))
    assert hist.columns == PLAYBACK_HIST_COLUMNS
    rows = hist.collect()
    # duplicate play collapsed (ref :309); same track at a different
    # time survives (grain = play event)
    keys = [(r.played_at, r.track_id) for r in rows]
    assert len(keys) == len(set(keys)) == 4
    assert sum(1 for r in rows if r.track_id == "t3") == 2
    # derived durations (ref :219-220)
    duet = next(r for r in rows if r.track_id == "t2")
    assert duet.duration_s == 123.46
    assert duet.duration_min == 2.06
    # global sort on played_at (ref :310)
    assert [r.played_at for r in rows] == sorted(r.played_at for r in rows)


def test_empty_day(spark, empty_playback_json_path):
    from spotify_pipeline_gcp_spark.sources.readers import read_json

    raw = read_json(spark, empty_playback_json_path, PLAYBACK_DOC)
    out = run_clean_zone(raw)
    assert out["albums"].count() == 0
    assert out["artists"].count() == 0
    assert out["playback_hist"].count() == 0


def test_curate_adds_audit_and_date_cast(raw_playback):
    hist = build_playback_hist(explode_items(raw_playback))
    curated = curate(hist)
    # audit column first (ref playback_pipeline_curated.py:174-175)
    assert curated.columns[0] == "upload_timestamp"
    # album_release_date typed as date (ref :194)
    assert dict(curated.dtypes)["album_release_date"] == "date"
    # padded year became a real date
    padded = next(r for r in curated.collect() if r.track_id == "t1")
    assert str(padded.album_release_date) == "1999-12-31"
    # no-date table: guard stays static (albums has the column; artists not)
    artists_curated = curate(parse_artists(explode_items(raw_playback)))
    assert artists_curated.columns[0] == "upload_timestamp"
    # the input is distinct by construction: curate adds no shuffle
    # and drops no row
    assert exchange_count(curate(hist)) == exchange_count(hist)
    assert curate(hist).count() == hist.count()


def test_clean_zone_job_counts(spark, raw_playback, tmp_path):
    # a landing day's glob past Spark's default listing threshold (32
    # paths) is listed on the driver: the read itself runs no job
    day = tmp_path / "landing"
    day.mkdir()
    for u in range(40):
        (day / f"user_{u}.json").write_text(json.dumps(playback_doc()))
    glob = str(day / "user_*.json")
    assert jobs_run(spark, lambda: read_json(spark, glob, PLAYBACK_DOC)) == 0
    # the three clean tables: one shuffle per dimension's distinct, and
    # the fact's aggregate + range sort (its sample, shuffle and write)
    tables = run_clean_zone(raw_playback)

    def write_all():
        for name, df in tables.items():
            write_parquet(df, str(tmp_path / "clean" / name))

    assert jobs_run(spark, write_all) <= 8
