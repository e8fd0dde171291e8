"""Source/sink modules. Importing registers the scan/sink declared
queries."""

from udacity_data_engineering_spark.sources import (  # noqa: F401
    csv_source,
    json_source,
    lake,
    orc_source,
    parquet_source,
    python_datasource,
    skipping,
    text_source,
    xml_source,
)
from udacity_data_engineering_spark.sources.json_source import (  # noqa: F401
    LOG_SCHEMA,
    SONG_SCHEMA,
    read_log_data,
    read_song_data,
)
