"""JSON sources — reference rows 3/4/5 (SURVEY.md §2A).

The reference reads two JSON datasets (etl.py:45,61,101,105): song_data
with a declared StructType + PERMISSIVE mode, log_data with full schema
inference, both resolved through glob path patterns. The declared song
schema here *includes* ``song_id`` — the reference's omission of it is
bug B1 (etl.py:47-57 vs README.md:23); we implement the intent.

Fixture data lives at fixtures/sparkify/ (committed, generated by
scripts/gen_fixtures.py per FIXTURES.md §A).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from udacity_data_engineering_spark.plans.registry import register

FIXTURES = Path(__file__).resolve().parents[2] / "fixtures" / "sparkify"

#: Declared song schema (etl.py:47-57 intent, B1 fixed: song_id included).
SONG_SCHEMA = T.StructType(
    [
        T.StructField("num_songs", T.IntegerType()),
        T.StructField("artist_id", T.StringType()),
        T.StructField("artist_latitude", T.DoubleType()),
        T.StructField("artist_longitude", T.DoubleType()),
        T.StructField("artist_location", T.StringType()),
        T.StructField("artist_name", T.StringType()),
        T.StructField("song_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("duration", T.DoubleType()),
        T.StructField("year", T.IntegerType()),
    ]
)


def read_song_data(spark: SparkSession, path: str | None = None) -> DataFrame:
    """Declared-schema, PERMISSIVE JSON scan with glob resolution
    (etl.py:45,61): malformed records become null rows, never failures."""
    path = path or f"{FIXTURES}/song_data/*/*/*/*.json"
    return spark.read.json(path, schema=SONG_SCHEMA, mode="PERMISSIVE")


def read_log_data(
    spark: SparkSession, path: str | None = None, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines log scan (etl.py:101,105). The ETL passes the declared
    ``LOG_SCHEMA``: the scan stays lazy and, PERMISSIVE, a malformed line
    becomes an all-null row. Without ``schema`` the schema is inferred as
    the reference does, samplingRatio pinned to 1.0 so inference is
    deterministic (SURVEY §1.4) — an extra eager scan of all log data,
    unaffordable at 100 TB, kept for the registry's inferring scan
    (q_json_infer_scan) and its ``_corrupt_record`` column."""
    path = path or f"{FIXTURES}/log_data/*/*/*.json"
    if schema is not None:
        return spark.read.json(path, schema=schema, mode="PERMISSIVE")
    return spark.read.json(path, samplingRatio=1.0)


#: The deterministic inferred log schema as (name, DuckDB type) pairs —
#: source of truth for the read_json oracles over the log fixtures.
_LOG_FIELDS = [
    ("artist", "VARCHAR"), ("auth", "VARCHAR"), ("firstName", "VARCHAR"),
    ("gender", "VARCHAR"), ("itemInSession", "BIGINT"),
    ("lastName", "VARCHAR"), ("length", "DOUBLE"), ("level", "VARCHAR"),
    ("location", "VARCHAR"), ("method", "VARCHAR"), ("page", "VARCHAR"),
    ("registration", "DOUBLE"), ("sessionId", "BIGINT"), ("song", "VARCHAR"),
    ("status", "BIGINT"), ("ts", "BIGINT"), ("userAgent", "VARCHAR"),
    ("userId", "VARCHAR"),
]

#: DuckDB column spec mirroring the deterministic inferred log schema,
#: for read_json oracles over the log fixtures (with ignore_errors the
#: malformed line becomes an all-NULL row — filtered or replaced by the
#: oracle as the query's semantics require).
LOG_COLS_DUCK = (
    "{" + ",".join(f"'{n}':'{t}'" for n, t in _LOG_FIELDS) + "}"
)

#: Declared log schema: the inferred one minus ``_corrupt_record``
#: (drift-guarded against inference on the fixtures by the ETL tests).
_SPARK_TYPES = {"VARCHAR": T.StringType(), "BIGINT": T.LongType(), "DOUBLE": T.DoubleType()}
LOG_SCHEMA = T.StructType([T.StructField(n, _SPARK_TYPES[t]) for n, t in _LOG_FIELDS])


def _infer_scan_oracle() -> str:
    """DuckDB equivalent of Spark's inferred PERMISSIVE scan: parsed rows
    carry a NULL _corrupt_record; a corrupt line — not JSON at all, or
    valid JSON that is not an object (Spark treats a top-level scalar as
    corrupt under a struct schema) — carries the raw text with every
    data column NULL.

    Fixture contract (committed, seeded — gen_fixtures.py): no log
    record has ALL fields null, and no line is a TOP-LEVEL JSON ARRAY.
    The all-null rule exists because the parsed branch cannot
    distinguish such a record from ignore_errors' error placeholder
    row, so both are filtered. The no-array rule exists because the two
    engines genuinely diverge there: this oracle's corrupt-line
    predicate (json_type <> 'OBJECT') classifies '[{...},{...}]' as one
    corrupt line, while Spark's PERMISSIVE parser under a struct schema
    expands a top-level array into one parsed row PER ELEMENT — a
    future fixture with an array line would need the oracle rebuilt
    with an UNNEST branch, not just this contract note."""
    glob = f"{FIXTURES}/log_data/*/*/*.json"
    any_field = "COALESCE(" + ", ".join(
        f"CAST({n} AS VARCHAR)" for n, _ in _LOG_FIELDS
    ) + ")"
    null_fields = ", ".join(
        f"CAST(NULL AS {t}) AS {n}" for n, t in _LOG_FIELDS
    )
    return f"""
        SELECT CAST(NULL AS VARCHAR) AS _corrupt_record, *
        FROM read_json('{glob}', columns={LOG_COLS_DUCK}, ignore_errors=true)
        WHERE {any_field} IS NOT NULL
        UNION ALL
        SELECT line AS _corrupt_record, {null_fields}
        FROM read_csv('{glob}', columns={{'line':'VARCHAR'}},
                      header=false, delim=chr(1), quote='')
        WHERE TRY_CAST(line AS JSON) IS NULL
           OR json_type(TRY_CAST(line AS JSON)) <> 'OBJECT'
    """

#: DuckDB column spec mirroring SONG_SCHEMA for the read_json oracles.
SONG_COLS_DUCK = _SONG_COLS_DUCK = (
    "{'num_songs':'INTEGER','artist_id':'VARCHAR','artist_latitude':'DOUBLE',"
    "'artist_longitude':'DOUBLE','artist_location':'VARCHAR',"
    "'artist_name':'VARCHAR','song_id':'VARCHAR','title':'VARCHAR',"
    "'duration':'DOUBLE','year':'INTEGER'}"
)


@register(
    "q_json_schema_scan",
    oracle=f"""
        SELECT * FROM read_json(
            '{FIXTURES}/song_data/*/*/*/*.json',
            columns={_SONG_COLS_DUCK})
    """,
    doc="JSON scan with declared schema + PERMISSIVE mode over the "
    "committed Sparkify song fixtures (etl.py:61). Value-hash proven "
    "against DuckDB's read_json with the same declared column types.",
    tags=("2A.4",),
)
def q_json_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_song_data(spark)


@register(
    "q_json_infer_scan",
    oracle=_infer_scan_oracle(),
    doc="Schema-inferred JSON-lines scan over the Sparkify log fixtures "
    "(etl.py:105), including one malformed line (PERMISSIVE default "
    "yields a _corrupt_record column row instead of failing). Hash-proven "
    "(round 5): the DuckDB oracle reads the same files with the inferred "
    "column types, maps ignore_errors' all-NULL row back to the raw "
    "malformed line via a raw-line scan + TRY_CAST(line AS JSON).",
    tags=("2A.5",),
)
def q_json_infer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_log_data(spark)


@register(
    "q_scan_glob",
    oracle=f"""
        SELECT song_id, title FROM read_json(
            '{FIXTURES}/song_data/*/*/*/*.json',
            columns={_SONG_COLS_DUCK})
    """,
    doc="Glob multi-file source resolution (etl.py:45,101,144: "
    "song_data/*/*/*/*.json) — one DataFrame over the matched tree, "
    "value-hash proven against DuckDB's glob resolution of the same "
    "pattern.",
    tags=("2A.3",),
)
def q_scan_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_song_data(spark, f"{FIXTURES}/song_data/*/*/*/*.json").select(
        "song_id", "title"
    )
