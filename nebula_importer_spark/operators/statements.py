"""nGQL statement assembly — golden-parity rendering of mutation batches.

The reference folds each read batch (≤ ``batch`` records,
``pkg/manager/manager.go:377-407``) into ONE statement per tag/edge spec
(``pkg/spec/v3/node.go:163-206``, ``edge.go:208-267``). Here the per-record
fragments are pre-rendered JVM-side by
:mod:`nebula_importer_spark.operators.mapping`; this module only groups
fragments into statements.

Assembly runs per-partition via ``mapInPandas`` (Arrow-batched, no shuffle):
each input partition independently chunks its fragments into ≤``batch``-record
statements, exactly like one reference reader feeding importers. For
byte-exact golden replay over a known record order, pass a single-partition
DataFrame (tests use ``coalesce(1)``).

This is a compatibility sink — the engine's real materialized output is the
deduplicated vertex/edge/triple tables (pipeline/materialize.py). Statement
text is only needed to prove mapping parity with the reference's test suite.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from nebula_importer_spark.plans.specs import GraphSpec, Mode

STATEMENT_SCHEMA = StructType(
    [
        StructField("statement", StringType(), False),
        StructField("n_records", IntegerType(), False),
    ]
)

DEFAULT_BATCH = 128  # pkg/reader/option.go:7-9


def assemble_statements(
    values: DataFrame,
    spec: GraphSpec,
    batch: int = DEFAULT_BATCH,
) -> DataFrame:
    """Group rendered fragments into ≤``batch``-record statements.

    ``values`` must carry a ``fragment`` column (from
    ``mapping.spec_values``). Returns (statement, n_records) rows.
    """
    spec.complete()  # idempotent prefix constant-folding (node.go:87-123)
    if spec.mode == Mode.INSERT or (
        spec.mode == Mode.DELETE and spec.delete_shares_prefix
    ):
        prefix, sep = spec.statement_prefix, ", "
    else:
        # UPDATE/UPSERT and unshared-DELETE fragments are full statements
        # already carrying their own prefix (node.go:231-236,263-266).
        prefix, sep = "", ""

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: list[str] = []

        def flush() -> pd.DataFrame:
            nonlocal pending
            out = pd.DataFrame(
                {
                    "statement": [prefix + sep.join(pending)],
                    "n_records": [len(pending)],
                }
            )
            pending = []
            return out

        for pdf in batches:
            frags = pdf["fragment"].tolist()
            i = 0
            while i < len(frags):
                take = batch - len(pending)
                pending.extend(frags[i : i + take])
                i += take
                if len(pending) >= batch:
                    yield flush()
        if pending:
            yield flush()

    return values.select("fragment").mapInPandas(assemble, STATEMENT_SCHEMA)
