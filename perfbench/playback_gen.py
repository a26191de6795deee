"""Seeded landing-zone generator for the daily playback ETL workload.

Each landing day holds one recently-played document per user, laid out
as ``<root>/<yyyy>/<mm>/<dd>/user_<n>.json``. A document carries
``plays_per_doc`` items; from the second day on, about a fifth of them
repeat plays the same user had on the previous day, as a
"since yesterday" cursor on the source API does. Every new play gets a
``played_at`` no other play has, so the generator knows exactly how
many rows the warehouse must hold after each day.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

FIRST_DAY = dt.date(2026, 8, 1)
REPLAY_SHARE = 0.2


def _catalog(rng: random.Random, n_tracks: int) -> list[dict]:
    """Tracks with nested album and artist structs, as the API returns."""
    n_artists = max(1, n_tracks // 4)
    n_albums = max(1, n_tracks // 8)
    artists = [
        {
            "external_urls": {"spotify": f"https://open.example.com/artist/ar{i}"},
            "href": f"https://api.example.com/artists/ar{i}",
            "id": f"ar{i}",
            "name": f"Artist {i}" if i % 17 else f'Band, "{i}"',
            "uri": f"spotify:artist:ar{i}",
        }
        for i in range(n_artists)
    ]
    albums = []
    for i in range(n_albums):
        year = rng.randint(1960, 2025)
        bare = rng.random() < 0.1
        albums.append(
            {
                "album_type": rng.choice(["album", "single", "compilation"]),
                "href": f"https://api.example.com/albums/al{i}",
                "id": f"al{i}",
                "name": f"Album {i}",
                "release_date": str(year)
                if bare
                else f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                "release_date_precision": "year" if bare else "day",
                "total_tracks": rng.randint(1, 20),
                "type": "album",
                "uri": f"spotify:album:al{i}",
            }
        )
    tracks = []
    for i in range(n_tracks):
        album = dict(albums[rng.randrange(n_albums)])
        credited = rng.sample(artists, rng.choice([1, 1, 1, 2, 3]))
        album["artists"] = [{"id": a["id"], "name": a["name"]} for a in credited]
        tracks.append(
            {
                "album": album,
                "artists": credited,
                "duration_ms": rng.randint(90_000, 420_000),
                "href": f"https://api.example.com/tracks/tr{i}",
                "id": f"tr{i}",
                "name": f"Track {i}",
                "popularity": rng.randint(0, 100),
                "type": "track",
                "uri": f"spotify:track:tr{i}",
            }
        )
    return tracks


def _ts(day: dt.date, ms: int) -> str:
    t = dt.datetime.combine(day, dt.time()) + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def generate_days(
    root: str,
    seed: int,
    n_days: int,
    users: int,
    plays_per_doc: int,
    n_tracks: int = 4000,
) -> list[dict]:
    """Write ``n_days`` landing days under ``root``.

    Returns one ground-truth record per day: its date, the glob that
    selects that day's documents, the plays offered and how many of
    them are new (the rows ``delta_append`` must let through).
    """
    rng = random.Random(seed)
    # items are written as pre-serialized JSON: a track's text is built once
    tracks = [json.dumps(t) for t in _catalog(rng, n_tracks)]
    previous: list[list[str]] = [[] for _ in range(users)]
    truth = []
    day_ms = 24 * 3600 * 1000
    # distinct played_at per new play: user u owns the millisecond slots
    # congruent to u modulo `users` within the day
    slots = day_ms // users
    for d in range(n_days):
        day = FIRST_DAY + dt.timedelta(days=d)
        day_dir = os.path.join(
            root, f"{day.year}", f"{day.month:02d}", f"{day.day:02d}"
        )
        os.makedirs(day_dir, exist_ok=True)
        offered = new = 0
        for u in range(users):
            n_replay = round(plays_per_doc * REPLAY_SHARE) if d else 0
            items = rng.sample(previous[u], min(n_replay, len(previous[u])))
            fresh = sorted(rng.sample(range(slots), plays_per_doc - len(items)))
            today = [
                f'{{"played_at": "{_ts(day, s * users + u)}", '
                f'"track": {rng.choice(tracks)}}}'
                for s in fresh
            ]
            items.extend(today)
            previous[u] = today
            offered += len(items)
            new += len(today)
            with open(os.path.join(day_dir, f"user_{u}.json"), "w") as fh:
                fh.write('{"items": [' + ", ".join(items) + "]}")
        truth.append(
            {
                "day": day.isoformat(),
                "glob": os.path.join(day_dir, "user_*.json"),
                "offered": offered,
                "new": new,
            }
        )
    return truth
