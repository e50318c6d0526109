"""Streaming ingest: CSV/parquet file streams → mapping core → sinks.

The reference's cron-repeat import (``pkg/task/taskmgr.go:174-188``: re-run
the whole config on a schedule) becomes a Structured Streaming job: new
files landing in the source directory are discovered incrementally,
flow through the *same* compiled mapping (stateless Column programs are
streaming-compatible as-is), and append to the output table exactly once
per input file (checkpointed source offsets replace the task DB).

Late-data/window analytics (the part the reference cannot do at all) use
event-time windows + watermarks.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from nebula_importer_spark.operators.mapping import spec_values
from nebula_importer_spark.operators.triples import spec_triples
from nebula_importer_spark.plans.specs import GraphSpec
from nebula_importer_spark.sources.csv import _reader, records_from_columns


def stream_records_csv(
    spark: SparkSession,
    path: str,
    n_columns: int,
    delimiter: str = ",",
    with_header: bool = False,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """readStream over a CSV directory → record DataFrame.

    Streaming sources need an explicit schema: ``n_columns`` string columns,
    exactly the reference's ``[]string`` record contract. Parsing uses the
    batch reader's option block, so a file streams as it would batch-read;
    malformed rows are skipped (DROPMALFORMED).
    """
    schema = T.StructType(
        [T.StructField(f"_c{i}", T.StringType(), True) for i in range(n_columns)]
    )
    reader = _reader(
        spark.readStream.schema(schema), "DROPMALFORMED", delimiter,
        with_header=with_header,
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return records_from_columns(reader.csv(path))


def stream_triples(records: DataFrame, spec: GraphSpec) -> DataFrame:
    """Apply a mapping spec to a streaming record DataFrame → triples.

    Stateless projection — no watermark needed, full streaming support.
    """
    return spec_triples(spec_values(records, spec), spec)


def start_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Append the stream to a parquet table, exactly-once via checkpoint.

    ``available_now=True`` drains everything currently in the source then
    stops — the streaming equivalent of one cron run, minus the task DB.
    """
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed counts with late-data tolerance.

    Watermark bounds state: rows later than ``watermark`` behind the max
    event time are dropped, so state size is O(active windows), which is
    what lets this run forever at corpus-ingest rates.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )
