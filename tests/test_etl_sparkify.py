"""Sparkify ETL parity tests — the reference pipeline's *intended*
semantics (SURVEY.md §3.4 bug ledger) on the committed JSON fixtures
(FIXTURES.md §A)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from udacity_data_engineering_spark.etl import sparkify
from udacity_data_engineering_spark.sources import LOG_SCHEMA
from udacity_data_engineering_spark.sources.json_source import (
    FIXTURES,
    read_log_data,
    read_song_data,
)

SONGS = f"{FIXTURES}/song_data/*/*/*/*.json"
LOGS = f"{FIXTURES}/log_data/*/*/*.json"


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sparkify_lake"))
    counts = sparkify.run(spark, SONGS, LOGS, out)
    return out, counts


def test_star_schema_counts(outputs):
    _, counts = outputs
    # 9 song files with 1 duplicated song_id -> 8 songs (B1/B2: natural key)
    assert counts["songs"] == 8
    assert counts["artists"] == 6
    assert counts["users"] == 4  # empty userId dropped
    assert counts["time"] > 0
    assert counts["songplays"] > 0


def test_schema_shapes(outputs, spark):
    out, _ = outputs
    expected = {
        "songs": {"song_id", "title", "artist_id", "year", "duration"},
        "artists": {"artist_id", "artist_name", "artist_location",
                    "artist_latitude", "artist_longitude"},
        "users": {"user_id", "first_name", "last_name", "gender", "level"},
        "time": {"ts", "start_time", "hour", "day", "week", "month", "year",
                 "weekday"},
        "songplays": {"songplay_id", "start_time", "year", "month", "user_id",
                      "level", "song_id", "artist_id", "session_id",
                      "location", "user_agent"},
    }
    for name, cols in expected.items():
        got = set(spark.read.parquet(f"{out}/{name}").columns)
        assert got == cols, f"{name}: {got} != {cols}"


def test_b7_deterministic_users_dedup(outputs, spark):
    """A user who flips free->paid must come out 'paid' (latest by ts)."""
    out, _ = outputs
    users = spark.read.parquet(f"{out}/users")
    row = users.filter(users.user_id == "8").collect()
    assert len(row) == 1 and row[0].level == "paid"


def test_b2_songplays_fk_integrity(outputs, spark):
    """songplays.song_id must reference real songs (B2: natural key kept)."""
    out, _ = outputs
    sp = spark.read.parquet(f"{out}/songplays")
    songs = spark.read.parquet(f"{out}/songs")
    orphans = sp.join(songs, "song_id", "left_anti").count()
    assert orphans == 0


def test_songplay_ids_unique(outputs, spark):
    out, _ = outputs
    sp = spark.read.parquet(f"{out}/songplays")
    assert sp.select("songplay_id").distinct().count() == sp.count()


def test_join_drops_nonmatching_plays(outputs, spark):
    """Inner join semantics: only exact (song,length,artist) hits."""
    out, _ = outputs
    log = read_log_data(spark, LOGS).filter("page = 'NextSong'")
    song = read_song_data(spark, SONGS)
    hits = log.join(
        song,
        (log.song == song.title)
        & (log.length == song.duration)
        & (log.artist == song.artist_name),
    ).count()
    sp_count = spark.read.parquet(f"{out}/songplays").count()
    assert sp_count == hits


def test_permissive_malformed_line(spark):
    """The corrupt fixture line parses to a _corrupt_record row, not a
    failure (etl.py:61 PERMISSIVE intent)."""
    df = read_log_data(spark, LOGS).cache()  # Spark disallows querying only
    try:  # _corrupt_record straight off a raw scan — cache the parse first
        assert "_corrupt_record" in df.columns
        assert df.filter(df._corrupt_record.isNotNull()).count() == 1
    finally:
        df.unpersist()


def test_log_schema_matches_inference(spark):
    """The ETL's declared log schema is what inference yields on the
    fixtures, minus the corrupt-record column — so the declared schema,
    inference and the DuckDB oracle spec stay tied to one field list."""
    inferred = read_log_data(spark, LOGS).schema
    assert T.StructType(
        [f for f in inferred.fields if f.name != "_corrupt_record"]
    ) == LOG_SCHEMA


def test_run_job_budget(spark, tmp_path, job_tasks):
    """A run issues only the jobs its five writes and one read-back need:
    no log-inference scan, no footer-schema job per read-back table, and
    one count query for all five tables."""
    with job_tasks() as tasks:
        counts = sparkify.run(spark, SONGS, LOGS, str(tmp_path / "out"))
    assert counts["songplays"] == 27
    assert len(tasks) == 15


def test_partitioning_layout(outputs):
    """Hive-style partition dirs (etl.py:74,139,173)."""
    import os

    out, _ = outputs
    years = [d for d in os.listdir(f"{out}/songs") if d.startswith("year=")]
    assert years, "songs not partitioned by year"
    months = [d for d in os.listdir(f"{out}/time/year=2018")]
    assert any(m.startswith("month=") for m in months)


def test_cli_main_runs_pipeline(tmp_path):
    """The reference's primary UX: a runnable script (etl.py:190-203)."""
    from udacity_data_engineering_spark.etl.sparkify import main

    counts = main(
        [
            "--song-path", "fixtures/sparkify/song_data/*/*/*/*.json",
            "--log-path", "fixtures/sparkify/log_data/*/*/*.json",
            "--output", str(tmp_path / "out"),
        ]
    )
    assert counts == {"songs": 8, "artists": 6, "users": 4, "time": 55, "songplays": 27}
