"""udacity_data_engineering_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities exercised by
the reference repo vivaposi/Udacity-Data-Engineering (a Sparkify data-lake
ETL: JSON scan -> star schema -> partitioned parquet; see SURVEY.md), plus
the charter-mandated LLM-data-pipeline extension operators (dedup,
similarity search, text analysis, event-time windows, multimodal columns).

Everything is declared via the DataFrame / Spark SQL API so Catalyst +
Tungsten choose the physical strategy; Python UDFs appear only where
semantics require them (or for explicit reference parity, etl.py:124).
"""

__version__ = "0.1.0"

from udacity_data_engineering_spark.session import (  # noqa: F401
    TABLES,
    build_session,
    configure,
    load_tables,
    table,
)
from udacity_data_engineering_spark import zip_stamp

# a no-op outside PySpark Python workers; see zip_stamp
zip_stamp.install()
