"""Record sources: CSV (reference-compatible options), columnar tables, JDBC."""

from nebula_importer_spark.sources.csv import (
    read_records_csv,
    records_from_columns,
)

__all__ = [
    "read_records_csv",
    "records_from_columns",
]
