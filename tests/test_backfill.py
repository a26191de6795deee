"""Multi-day backfill: one glob scan, one plan, cross-day dedup
(vs the reference's per-day driver loop, adhoc jobs)."""

from __future__ import annotations

import datetime as dt

from spotify_pipeline_gcp_spark.operators.playback import run_backfill
from spotify_pipeline_gcp_spark.schemas import PLAYBACK_DOC
from spotify_pipeline_gcp_spark.sinks.landing import write_doc_to_landing
from spotify_pipeline_gcp_spark.sources.readers import read_json
from tests.conftest import playback_doc


def test_backfill_consolidates_days(spark, tmp_path):
    root = str(tmp_path / "00_landing_zone")
    doc = playback_doc()
    write_doc_to_landing(doc, root, dt.date(2026, 8, 11), "playback_hist.json")
    # day 2 replays one identical item (same played_at+track) plus the rest
    write_doc_to_landing(
        {"items": doc["items"][:1]}, root, dt.date(2026, 8, 12),
        "playback_hist.json",
    )

    raw = read_json(spark, f"{root}/*/*/*/playback_hist.json", PLAYBACK_DOC)
    assert raw.count() == 2  # two day-documents in one scan

    out = run_backfill(raw)
    hist = out["playback_hist"].collect()
    # cross-day duplicate (day2's replay of day1 item) collapsed:
    # grain stays (played_at, track_id) across the whole range
    keys = [(r.played_at, r.track_id) for r in hist]
    assert len(keys) == len(set(keys)) == 4
    # the replayed play, and the play delivered twice within day 1, bag
    # their artists once (the reference repeats them per copy)
    for r in hist:
        if r.track_id in ("t1", "t3"):
            assert (r.artist_names, r.artist_ids) == ("Solo Artist", "a1")
    # dims deduped across days too
    assert out["albums"].count() == len(
        {r.album_id for r in out["albums"].collect()}
    )
