"""CSV → record DataFrame, matching the reference reader's options.

Reference reader: ``/root/reference/pkg/reader/csv.go:33-80`` — configurable
one-char delimiter, comment char, ``withHeader`` (skip first row),
``lazyQuotes``; malformed rows are *skipped*, not fatal
(``pkg/reader/batch.go:119-123``). Glob paths expand via Spark's own file
listing (the reference expands them in config,
``pkg/config/v3/source.go:76-97`` — S10).

Source-scheme dispatch (S1–S8: local/S3/OSS/FTP/SFTP/HDFS/GCS) collapses to
the Hadoop filesystem URI: ``spark.read.csv`` accepts ``file://``, ``s3a://``,
``hdfs://``, ``gs://`` … paths directly, so every reference source kind that
has a Hadoop FS scheme is covered by the same code path. The SQL source (S9)
maps to ``spark.read.jdbc`` with range partitioning (see sources/jdbc.py).

The record is materialized as a single ``record: array<string>`` column —
the DataFrame analog of the reference's ``type Record []string``
(``pkg/spec/base/record.go:3-6``).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.operators.mapping import RECORD_COL


#: Name of the corrupt-record marker column used by the batch reader.
CORRUPT_COL = "_nis_corrupt_record"

_PRUNING_CONF = "spark.sql.csv.parser.columnPruning.enabled"


def _reader(
    base,
    mode: str,
    delimiter: str = ",",
    comment: str = "",
    with_header: bool = False,
    lazy_quotes: bool = False,
    multi_line: bool = False,
):
    """The one CSV option block: Go encoding/csv-compatible parse settings.

    ``base`` is ``spark.read`` (batch) or a schema'd ``spark.readStream``
    (streaming); both reads parse a file identically, only ``mode`` differs.
    ``escape`` is pinned to ``"`` (RFC4180 double-quote doubling) because
    Go's encoding/csv has no backslash escape — Spark's default ``\\``
    escape would mis-parse fields like ``"No11\\"``. ``multi_line=True``
    enables quoted fields containing newlines (encoding/csv handles these
    natively; Spark needs the whole-file parse mode).
    """
    reader = (
        base.option("sep", delimiter)
        .option("header", with_header)
        .option("inferSchema", False)
        .option("mode", mode)
        .option("emptyValue", "")
        .option("escape", '"')
        .option("multiLine", multi_line)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
    )
    if comment:
        reader = reader.option("comment", comment)
    if lazy_quotes:
        # closest Spark analog of encoding/csv's LazyQuotes
        reader = reader.option("unescapedQuoteHandling", "STOP_AT_CLOSING_QUOTE")
    return reader


def read_records_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    comment: str = "",
    with_header: bool = False,
    lazy_quotes: bool = False,
    multi_line: bool = False,
):
    """Single-scan CSV read with failed-row accounting.

    Returns ``(records, observation)``: ``records`` carries the
    ``record: array<string>`` column with malformed rows skipped, mirroring
    the reference's skip-and-continue on CSV parse errors
    (batch.go:119-123); ``observation`` (:class:`pyspark.sql.Observation`)
    yields ``{"raw": …, "parsed": …}`` once ANY action has executed over
    ``records`` — the accounting rides the scan the import itself performs
    (the reference accumulates its stats during its single read,
    ``pkg/stats/stats.go:16``).

    Mechanics: a PERMISSIVE read (keeps every row) with an explicit
    corrupt-record column; malformed rows are those with the marker set,
    counted by an ``observe`` node below the malformed-row filter. Requires
    ``spark.sql.csv.parser.columnPruning.enabled=false``, which
    :func:`nebula_importer_spark.session.get_spark` sets: under pruning
    Spark judges malformedness only on referenced columns, which both
    diverges from Go encoding/csv's full-row validation and leaves the
    marker un-populated. The schema probe below reads only the first line
    of the first file — plan-time metadata, not a data scan.
    """
    from pyspark.sql import Observation
    from pyspark.sql.types import StringType, StructField, StructType

    if spark.conf.get(_PRUNING_CONF, "true").lower() != "false":
        raise RuntimeError(
            f"{_PRUNING_CONF} must be false for CSV reads (malformed rows "
            "would go uncounted); build the session with "
            "nebula_importer_spark.session.get_spark"
        )
    opts = (delimiter, comment, with_header, lazy_quotes, multi_line)
    probe = _reader(spark.read, "PERMISSIVE", *opts).csv(path)
    data_cols = probe.columns
    schema = StructType(
        list(probe.schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    df = (
        _reader(spark.read, "PERMISSIVE", *opts)
        .schema(schema)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("raw"),
        F.count(F.when(F.col(CORRUPT_COL).isNull(), 1)).alias("parsed"),
    )
    keep = F.col(CORRUPT_COL).isNull()
    if data_cols:
        # anti-prune guard: a fully-pruned action (e.g. count()) would leave
        # the corrupt marker as the scan's ONLY referenced column, which
        # Spark disallows (QUERY_ONLY_CORRUPT_RECORD_COLUMN — corruptness is
        # undefined without data columns). This always-true conjunct keeps
        # one data column referenced; it is not constant-foldable (Catalyst
        # has no length-range reasoning), and with column pruning disabled
        # the parser validates the full row regardless of the required set.
        first = "`" + data_cols[0].replace("`", "``") + "`"
        keep = keep & (F.length(F.coalesce(F.col(first), F.lit(""))) >= 0)
    records = df.where(keep).drop(CORRUPT_COL)
    return records_from_columns(records, data_cols), obs


def records_from_columns(df: DataFrame, cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Pack string-cast columns into a ``record: array<string>`` column.

    This is how typed tables (parquet/Iceberg/JDBC) enter the mapping core:
    each configured column position becomes ``record[i]``, exactly like a
    CSV cell. Null cells become '' (encoding/csv yields '' for empty).
    """
    names = list(cols) if cols is not None else df.columns
    # backtick-escape so header-derived names containing dots (e.g. a
    # numeric-looking "92.5" from a headerless file read with header=True)
    # resolve as exact names, not struct-field paths
    def ref(c: str):
        return F.col("`" + c.replace("`", "``") + "`")

    arr = F.array(*[F.coalesce(ref(c).cast("string"), F.lit("")) for c in names])
    return df.withColumn(RECORD_COL, arr)
