"""Seeded benchmark inputs. Every generator is a pure function of its seed:
the same seed writes byte-identical inputs, another seed writes different
ones of the same size and shape, so run-to-run cost stays comparable while
the engine never sees a fixed input it could be tuned to.

- ``rewrite_tables``: the committed base tables (``base/``, the TPC-H-ish
  star schema plus ``events``/``documents``/``embeddings`` at sf0.001)
  rewritten with a seeded row order and a seeded split into 2-4 files.
- ``write_sparkify``: the reference dataset's two JSON layouts (one-object
  song files in ``A/B/C`` directories, one JSON-lines log file per day)
  with the edge cases the ETL must survive, plus the expected row count of
  each of the five output tables.
- ``write_events``: an event feed for the stateful stream, with values on a
  0.25 grid so every per-key sum is exact in any summation order.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "base"


@dataclass
class InputStats:
    """Size of one workload's input: logical rows, bytes on disk, files."""

    rows: int = 0
    bytes: int = 0
    files: int = 0

    def add_file(self, path: Path, rows: int) -> None:
        self.rows += rows
        self.bytes += path.stat().st_size
        self.files += 1


def rewrite_tables(dst: Path, seed: int, names: tuple[str, ...]) -> InputStats:
    """Write each base table to ``dst/<name>.parquet/`` as a seeded row
    permutation split at seeded cut points into 2-4 part files (a directory
    reads exactly like the single file under ``spark.read.parquet``)."""
    rng = np.random.default_rng(seed)
    stats = InputStats()
    for name in names:
        table = pq.read_table(BASE_DIR / f"{name}.parquet")
        n = table.num_rows
        table = table.take(pa.array(rng.permutation(n)))
        k = int(rng.integers(2, 5))
        cuts = sorted(rng.choice(np.arange(1, n), size=k - 1, replace=False)) if n > k else []
        bounds = [0, *[int(c) for c in cuts], n]
        out = dst / f"{name}.parquet"
        out.mkdir(parents=True)
        for i in range(len(bounds) - 1):
            part = out / f"part-{i:05d}.parquet"
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), part)
            stats.add_file(part, bounds[i + 1] - bounds[i])
    return stats


@dataclass
class SparkifyInputs:
    song_glob: str
    log_glob: str
    #: expected row count of each output table (songs, artists, users,
    #: time, songplays), computed from the generated records in Python
    expected: dict[str, int]
    stats: InputStats = field(default_factory=InputStats)


_WORDS = (
    "love night heart fire dream blue road rain gold river summer shadow "
    "train city light time girl home soul dance moon star wild sweet"
).split()
_FIRST = "Ava Ben Cleo Dan Eli Fay Gus Hana Ivo Jun Kai Lea Max Nia Oto Pia".split()
_LAST = "Frye Cruz Smith Lee Park Moss Hale Vega Kerr Ruiz Shaw Lund".split()
_PAGES = ("NextSong",) * 8 + ("Home", "Login", "Logout", "Settings")


def _track_id(rng: random.Random) -> str:
    return "TR" + "".join(rng.choices("ABC", k=3)) + "".join(
        rng.choices("0123456789ABCDEF", k=13)
    )


#: size and shape of the generated Sparkify dataset
N_SONGS, N_ARTISTS, N_USERS = 80, 30, 40
N_DAYS, ROWS_PER_DAY = 3, 300
#: share of NextSong plays that name an existing (title, duration, artist)
HIT_FRACTION = 0.3


def write_sparkify(root: Path, seed: int) -> SparkifyInputs:
    """Generate Sparkify song and log JSON under ``root``.

    Planted edge cases: duplicate ``song_id`` (an exact copy of a song in a
    second file, so a matching play joins twice), ``year=0`` and null
    coordinates, a duplicate title under two artists, free->paid level
    flips, duplicate ``ts`` values, plays with an empty ``userId``,
    non-NextSong pages, and one malformed log line. ``HIT_FRACTION`` of the
    NextSong plays name an existing (title, duration, artist) triple; the
    rest name songs that do not exist, which the inner join must drop."""
    rng = random.Random(seed)
    artists = []
    for i in range(N_ARTISTS):
        located = rng.random() < 0.6
        artists.append(
            {
                "artist_id": f"AR{rng.getrandbits(64):016X}",
                "artist_name": f"{rng.choice(_WORDS).title()} {rng.choice(_WORDS).title()} {i}",
                "artist_location": f"{rng.choice(_WORDS).title()} City" if located else "",
                "artist_latitude": round(rng.uniform(-60, 60), 5) if located else None,
                "artist_longitude": round(rng.uniform(-150, 150), 5) if located else None,
            }
        )
    songs = []
    for i in range(N_SONGS):
        title = " ".join(rng.choices(_WORDS, k=2)).title()
        if i % 40 == 1:
            title = songs[-1]["title"]  # same title, (usually) another artist
        songs.append(
            {
                "num_songs": 1,
                **rng.choice(artists),
                "song_id": f"SO{rng.getrandbits(64):016X}",
                "title": title,
                "duration": round(rng.uniform(60, 600), 5),
                "year": rng.choice([0, 0, *range(1960, 2012)]),
            }
        )
    records = songs + [dict(s) for s in rng.sample(songs, N_SONGS // 20)]

    stats = InputStats()
    song_root = root / "song_data"
    for rec in records:
        tid = _track_id(rng)
        d = song_root / tid[2] / tid[3] / tid[4]
        d.mkdir(parents=True, exist_ok=True)
        path = d / f"{tid}.json"
        path.write_text(json.dumps(rec) + "\n")
        stats.add_file(path, 1)

    users = []
    for i in range(N_USERS):
        users.append(
            {
                "userId": str(10 + i),
                "firstName": rng.choice(_FIRST),
                "lastName": rng.choice(_LAST),
                "gender": rng.choice("MF"),
                "level": rng.choice(["free", "paid"]),
                # free users that upgrade once, at this row index
                "flip": rng.randrange(N_DAYS * ROWS_PER_DAY) if i % 5 == 0 else None,
            }
        )
    log_root = root / "log_data" / "2018" / "11"
    log_root.mkdir(parents=True)
    bad_day = rng.randrange(N_DAYS)
    logs = []
    row_no = 0
    for day in range(N_DAYS):
        day_ms = 1541030400000 + day * 86_400_000
        offsets = sorted(rng.randrange(86_400_000) for _ in range(ROWS_PER_DAY))
        lines = []
        for j, off in enumerate(offsets):
            ts = day_ms + off
            if j and rng.random() < 0.05:
                ts = logs[-1]["ts"]  # duplicate ts
            u = rng.choice(users)
            anonymous = rng.random() < 0.04
            level = u["level"]
            if u["flip"] is not None:
                level = "paid" if row_no >= u["flip"] else "free"
            page = rng.choice(_PAGES)
            row = {
                "artist": None,
                "auth": "Logged Out" if anonymous else "Logged In",
                "firstName": None if anonymous else u["firstName"],
                "gender": None if anonymous else u["gender"],
                "itemInSession": j % 9,
                "lastName": None if anonymous else u["lastName"],
                "length": None,
                "level": level,
                "location": "San Francisco-Oakland-Hayward, CA",
                "method": "PUT" if page == "NextSong" else "GET",
                "page": page,
                "registration": None if anonymous else 1540919166796.0,
                "sessionId": 100 + row_no // 25,
                "song": None,
                "status": 200,
                "ts": ts,
                "userAgent": '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4)"',
                "userId": "" if anonymous else u["userId"],
            }
            if page == "NextSong":
                if rng.random() < HIT_FRACTION:
                    s = rng.choice(records)
                    row.update(artist=s["artist_name"], song=s["title"], length=s["duration"])
                else:
                    row.update(
                        artist="Unknown Artist",
                        song=f"Unknown Song {rng.randrange(1000)}",
                        length=round(rng.uniform(60, 600), 5),
                    )
            logs.append(row)
            lines.append(json.dumps(row))
            row_no += 1
        if day == bad_day:
            lines.append("{not valid json")
        path = log_root / f"2018-11-{day + 1:02d}-events.json"
        path.write_text("\n".join(lines) + "\n")
        stats.add_file(path, len(lines))

    plays = [r for r in logs if r["page"] == "NextSong"]
    by_key: dict[tuple, int] = {}
    for s in records:
        k = (s["title"], s["duration"], s["artist_name"])
        by_key[k] = by_key.get(k, 0) + 1
    expected = {
        "songs": len({s["song_id"] for s in records}),
        "artists": len({s["artist_id"] for s in records}),
        "users": len({r["userId"] for r in plays if r["userId"] != ""}),
        "time": len({r["ts"] for r in plays}),
        "songplays": sum(by_key.get((r["song"], r["length"], r["artist"]), 0) for r in plays),
    }
    return SparkifyInputs(
        song_glob=str(song_root / "*" / "*" / "*" / "*.json"),
        log_glob=str(root / "log_data" / "*" / "*" / "*.json"),
        expected=expected,
        stats=stats,
    )


EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


#: size and shape of the generated event feed
N_EVENT_USERS, N_EVENTS, EVENT_DAYS = 100, 3000, 20


def write_events(path: Path, seed: int) -> InputStats:
    """One parquet file of events over ``EVENT_DAYS`` days. Each user's
    events are uniform in time, so gaps longer than a day (session breaks
    under a one-day TTL) occur for most users."""
    rng = np.random.default_rng(seed)
    start_us = 1_700_000_000 * 1_000_000
    ts = start_us + rng.integers(0, EVENT_DAYS * 86_400 * 1_000_000, N_EVENTS)
    table = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, N_EVENT_USERS, N_EVENTS),
            "event_type": rng.choice(["view", "click", "purchase"], N_EVENTS),
            "value": rng.integers(0, 400, N_EVENTS) / 4.0,
            "props": ["{}"] * N_EVENTS,
        },
        schema=EVENTS_SCHEMA,
    )
    os.makedirs(path.parent, exist_ok=True)
    pq.write_table(table, path)
    stats = InputStats()
    stats.add_file(path, N_EVENTS)
    return stats
