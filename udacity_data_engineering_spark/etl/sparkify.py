"""Sparkify data-lake ETL — full reference-pipeline parity (etl.py:34-203)
with the intent implemented and the bug ledger fixed (SURVEY.md §3.4):

B1 read schema includes song_id; B2 natural song_id kept (surrogate ids
only for songplay_id); B3 one shared song schema (sources/json_source.py);
B4 SQL uses start_time; B5 smoke check reads the path that was written;
B6 uniform path joining; B7 deterministic dedup (users keep latest-by-ts).

Pipeline: two JSON datasets → 5-table star schema → partitioned parquet.
Structure mirrors the reference's two stages (process_song_data
etl.py:34-87, process_log_data etl.py:90-175) but every transformation is
Catalyst-friendly: the epoch→timestamp conversion uses the builtin
``timestamp_millis`` (not the reference's Python UDF, etl.py:124), the
song dataset is read once and reused (the reference re-scans it,
etl.py:61 vs 144-145), and the songplays join broadcasts the song dim.

At reference-sample sizes a run's cost is its number of Spark jobs, so a
run issues only the jobs its five writes and one read-back need (see
process_log_data and run).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from udacity_data_engineering_spark.functions.datetime_fns import epoch_ms_to_ts
from udacity_data_engineering_spark.operators.dedup import keep_first
from udacity_data_engineering_spark.sources.json_source import (
    LOG_SCHEMA,
    read_log_data,
    read_song_data,
)
from udacity_data_engineering_spark.sources.parquet_source import write_partitioned


def build_songs(song_df: DataFrame) -> DataFrame:
    """songs dim (etl.py:65-70): natural song_id kept (B1/B2 fixed).
    Every non-key column participates in the dedup order — a partial
    order (title alone) would tie on same-title duplicates and
    reintroduce B7's nondeterminism."""
    return keep_first(
        song_df.select("song_id", "title", "artist_id", "year", "duration"),
        ["song_id"],
        ["title", "artist_id", "year", "duration"],
    )


def build_artists(song_df: DataFrame) -> DataFrame:
    """artists dim (etl.py:78-82); total-order dedup as in build_songs."""
    return keep_first(
        song_df.select(
            "artist_id", "artist_name", "artist_location",
            "artist_latitude", "artist_longitude",
        ),
        ["artist_id"],
        ["artist_name", "artist_location", "artist_latitude", "artist_longitude"],
    )


def build_users(log_df: DataFrame) -> DataFrame:
    """users dim (etl.py:112-116): latest level wins via ts ordering —
    the deterministic fix for B7 (a free→paid user must come out paid)."""
    users = log_df.filter(F.col("userId") != "").select(
        F.col("userId").alias("user_id"),
        F.col("firstName").alias("first_name"),
        F.col("lastName").alias("last_name"),
        "gender",
        "level",
        "ts",
    )
    return keep_first(
        users, ["user_id"], [F.col("ts").desc(), F.col("level"), F.col("gender")]
    ).drop("ts")


def build_time(log_df: DataFrame) -> DataFrame:
    """time dim (etl.py:124-135): epoch-ms → timestamp via builtin
    (etl.py:124's UDF intent, JVM-side), then six date parts."""
    t = log_df.select("ts").dropDuplicates(["ts"]).withColumn(
        "start_time", epoch_ms_to_ts(F.col("ts"))
    )
    return t.select(
        "ts",
        "start_time",
        F.hour("start_time").alias("hour"),
        F.dayofmonth("start_time").alias("day"),
        F.weekofyear("start_time").alias("week"),
        F.month("start_time").alias("month"),
        F.year("start_time").alias("year"),
        F.dayofweek("start_time").alias("weekday"),
    )


def build_songplays(spark: SparkSession, log_df: DataFrame, song_df: DataFrame) -> DataFrame:
    """songplays fact (etl.py:144-169): the 3-key composite join
    (song=title AND length=duration AND artist=artist_name — exact float
    equality preserved, SURVEY §7.3) through the SQL entry point, with
    start_time (B4 fixed) and the surrogate songplay_id."""
    log_df.withColumn("start_time", epoch_ms_to_ts(F.col("ts"))).createOrReplaceTempView(
        "log_data"
    )
    song_df.createOrReplaceTempView("song_data")
    return spark.sql(
        """
        SELECT monotonically_increasing_id() AS songplay_id,
               ld.start_time,
               year(ld.start_time)          AS year,
               month(ld.start_time)         AS month,
               ld.userId                    AS user_id,
               ld.level,
               sd.song_id,
               sd.artist_id,
               ld.sessionId                 AS session_id,
               ld.location,
               ld.userAgent                 AS user_agent
        FROM log_data ld
        JOIN song_data sd
          ON ld.song = sd.title
         AND ld.length = sd.duration
         AND ld.artist = sd.artist_name
        """
    )


def _write(
    df: DataFrame, output_path: str, name: str, partition_cols: list[str] | None = None
) -> T.StructType:
    """Write one table (overwrite; Hive-partitioned when ``partition_cols``
    is given) and return the schema a read of it resolves to: the data
    columns, then the partition columns, which the layout moves last."""
    path = os.path.join(output_path, name)
    if not partition_cols:
        df.write.mode("overwrite").parquet(path)
        return df.schema
    write_partitioned(df, path, partition_cols)
    fields = {f.name: f for f in df.schema.fields}
    return T.StructType(
        [f for f in df.schema.fields if f.name not in partition_cols]
        + [fields[c] for c in partition_cols]
    )


def process_song_data(
    spark: SparkSession, input_path: str, output_path: str
) -> tuple[DataFrame, dict[str, T.StructType]]:
    """Stage 1 (etl.py:34-87). Returns the raw song scan for reuse by
    stage 2 — the reference re-reads the JSON instead (etl.py:144-145) —
    and the schema of each table written."""
    song_df = read_song_data(spark, input_path)
    schemas = {
        "songs": _write(build_songs(song_df), output_path, "songs", ["year", "artist_id"]),
        "artists": _write(build_artists(song_df), output_path, "artists"),
    }
    return song_df, schemas


def process_log_data(
    spark: SparkSession, input_path: str, output_path: str, song_df: DataFrame
) -> dict[str, T.StructType]:
    """Stage 2 (etl.py:90-175). The log schema is declared, not inferred
    (the reference infers it, etl.py:105): no eager scan, and the one
    malformed line becomes an all-null row that the NextSong filter drops.
    Returns the schema of each table written."""
    log_df = read_log_data(spark, input_path, schema=LOG_SCHEMA).filter(
        F.col("page") == "NextSong"
    )
    return {
        "users": _write(build_users(log_df), output_path, "users"),
        "time": _write(build_time(log_df), output_path, "time", ["year", "month"]),
        "songplays": _write(
            build_songplays(spark, log_df, F.broadcast(song_df)),
            output_path,
            "songplays",
            ["year", "month"],
        ),
    }


def run(spark: SparkSession, song_path: str, log_path: str, output_path: str) -> dict:
    """Full pipeline (etl.py:190-203 main) + the smoke check the
    reference defined but never called (etl.py:177-188, B5 fixed: read
    the paths that were actually written). Each table is read back with
    the schema it was written with, and the five counts are one grouped
    count over their tagged union."""
    song_df, schemas = process_song_data(spark, song_path, output_path)
    schemas.update(process_log_data(spark, log_path, output_path, song_df))
    tagged = [
        spark.read.schema(schema)
        .parquet(os.path.join(output_path, name))
        .select(F.lit(name).alias("table"))
        for name, schema in schemas.items()
    ]
    counted = dict(functools.reduce(DataFrame.unionAll, tagged).groupBy("table").count().collect())
    return {name: counted.get(name, 0) for name in schemas}


def main(argv: list[str] | None = None) -> dict:
    """CLI entry point — the reference's primary UX (etl.py:190-203 main()
    hardcodes s3a:// paths; we take them as arguments, with an optional
    dl.cfg-style credentials file for object-store paths).

    python -m udacity_data_engineering_spark.etl.sparkify \
        --song-path fixtures/sparkify/song_data/*/*/*/*.json \
        --log-path fixtures/sparkify/log_data/*/*/*.json \
        --output /tmp/sparkify_out [--aws-cfg dl.cfg]
    """
    import argparse

    from udacity_data_engineering_spark.session import (
        build_session,
        configure_object_store,
    )

    p = argparse.ArgumentParser(
        prog="python -m udacity_data_engineering_spark.etl.sparkify",
        description="Sparkify song/log ETL -> 5 parquet tables",
    )
    p.add_argument("--song-path", required=True, help="song_data JSON glob")
    p.add_argument("--log-path", required=True, help="log_data JSON glob")
    p.add_argument("--output", required=True, help="output directory/URI")
    p.add_argument("--aws-cfg", default=None, help="dl.cfg-style credentials file")
    args = p.parse_args(argv)

    object_store = args.aws_cfg or any(
        str(path).startswith(("s3a://", "s3://"))
        for path in (args.song_path, args.log_path, args.output)
    )
    # "" = object-store on with env-var credentials (no cfg file)
    spark = build_session(
        app_name="sparkify-etl",
        object_store_cfg=(args.aws_cfg or "") if object_store else None,
    )
    if object_store:
        configure_object_store(spark, args.aws_cfg)
    counts = run(spark, args.song_path, args.log_path, args.output)
    for name, n in counts.items():
        print(f"{name}: {n} rows")
    return counts


if __name__ == "__main__":  # pragma: no cover - exercised via subprocess test
    main()
