from etl_pipeline_example_spark.sources.readers import (
    read_jsonl,
    read_table,
    read_with_meta,
)
from etl_pipeline_example_spark.sources.quarantine import (
    quarantine_landed,
    read_jsonl_quarantine,
)
from etl_pipeline_example_spark.sources.tables import TESTDATA_TABLES

__all__ = [
    "read_jsonl",
    "read_jsonl_quarantine",
    "quarantine_landed",
    "read_table",
    "read_with_meta",
    "TESTDATA_TABLES",
]
