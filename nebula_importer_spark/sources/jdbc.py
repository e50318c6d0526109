"""SQL source (S9): range-partitioned JDBC scan → record DataFrame.

The reference's fork-added SQL source paginates MySQL with keyset queries
(``SELECT fields FROM t WHERE … AND id > '<lastId>' ORDER BY id ASC LIMIT
batch`` — ``/root/reference/pkg/source/sql.go:196-213``) and counts rows by
rewriting the query (``:165-194``). Spark's JDBC reader replaces both: range
partitioning on the keyset column turns pagination into N parallel bounded
scans, and the count is the scan itself.

The read path is exercised end-to-end against Apache Derby, which ships
embedded inside the Spark distribution (``tests/test_jdbc.py``: in-memory
``jdbc:derby:memory:…`` databases, both the plain and the range-partitioned
scan verified through the mapping core) — no external service needed.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from nebula_importer_spark.sources.csv import records_from_columns


def options_from_sql_config(
    sql: dict, num_partitions: int = 1, bounds: Optional[tuple[int, int]] = None
) -> dict[str, str]:
    """Reference ``SQLConfig`` YAML (``pkg/source/sql.go:16-47``) → JDBC options.

    ``dbTable.id.name`` (the keyset column, default ``id`` — sql.go:45) becomes
    Spark's ``partitionColumn`` when ``bounds`` are known; without bounds the
    scan is unpartitioned (the caller can still parallelize downstream).
    """
    driver = str(sql.get("driverName", "mysql") or "mysql")
    url = f"jdbc:{driver}://{sql.get('endpoint', '')}/{sql.get('dbName', '')}"
    if sql.get("urlQuery"):
        url += "?" + str(sql["urlQuery"])
    table = sql.get("dbTable") or {}
    opts: dict[str, str] = {"url": url, "dbtable": str(table.get("name", ""))}
    if table.get("query"):
        opts["dbtable"] = f"({table['query']}) AS t"
    for yk, sk in (("username", "user"), ("password", "password")):
        if sql.get(yk) is not None:
            opts[sk] = str(sql[yk])
    if bounds is not None:
        key = (table.get("id") or {}).get("name", "id")
        opts.update(
            partitionColumn=str(key),
            lowerBound=str(bounds[0]),
            upperBound=str(bounds[1]),
            numPartitions=str(num_partitions),
        )
    return opts


def read_records_jdbc(
    spark: SparkSession,
    jdbc_options: dict[str, str],
    columns: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Read a JDBC table into the ``record: array<string>`` shape.

    ``jdbc_options`` are Spark's JDBC reader options, e.g. from
    :func:`options_from_sql_config`. ``columns`` ordering defines the record
    positions (``dbTable.fields``, sql.go:33); None keeps the table's column
    order.
    """
    df = spark.read.format("jdbc").options(**jdbc_options).load()
    if columns:
        df = df.select(*columns)
    return records_from_columns(df)
