"""Row→graph mapping: record DataFrames → rendered vertex/edge values.

This is the DataFrame re-expression of the reference's statement builders
(``/root/reference/pkg/spec/v3/node.go:163-272``, ``edge.go:208-372``): the
per-record filter, key/prop pick+convert, and the per-record statement
*fragment* are all compiled to Column expressions, so the entire map runs
JVM-side as narrow projections with zero shuffles. One body serves tags and
edges: the spec (:class:`nebula_importer_spark.plans.specs.GraphSpec`) names
its key columns and renders its key, and the fragment wraps that key the
same way for both kinds. Statement assembly (grouping fragments into ≤batch
statements) lives in :mod:`nebula_importer_spark.operators.statements`.

Scale note: these operators are embarrassingly parallel projections/filters —
at 100 TB they pipeline with the scan, and Catalyst pushes the record filter
into the source when the record array is built from real columns.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.functions.filters import compile_filter
from nebula_importer_spark.functions.pickers import build_picker_column, register_go_quote
from nebula_importer_spark.plans.specs import GraphSpec, Mode, PropSpec

RECORD_COL = "record"


def _set_clause(p: PropSpec) -> Column:
    return F.concat(F.lit(p.converted_name + " = "), F.col(f"p_{p.name}"))


def guard_clause(p: PropSpec, value: Column) -> Column:
    """``value`` where ``p``'s SET-clause guard holds, NULL where it fails.

    The guard ``expr`` env binds ``val`` to the FULL clause string — the
    reference's ``SetValue`` returns ``convertedName + " = " + value`` and
    ``SetValueList`` passes that whole string as ``val``
    (``prop.go:69-75,130-153``) — so e.g. ``val != "`p` = NULL"`` is the
    idiomatic skip-NULL guard, while ``val != "NULL"`` is (faithfully)
    always true. The renderer guards the clause itself (``concat_ws`` drops
    the NULL, the reference's skip-this-clause semantics); the apply guards
    the stored value (NULL = not set by this batch).
    """
    if not p.expr:
        return value
    return F.when(compile_filter(p.expr, variables={"val": _set_clause(p)}), value)


def spec_values(
    df: DataFrame,
    spec: GraphSpec,
    record_col: str = RECORD_COL,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Project a record DataFrame to rendered (key..., props..., fragment).

    Output columns:
      * the spec's key columns — ``vid`` for a tag, ``src``, ``dst`` and
        (when ranked) ``rank`` for an edge — as rendered literals (quoted
        for STRING vids);
      * ``p_<name>``  — rendered literal per prop;
      * ``fragment``  — the per-record statement piece for ``spec.mode``,
        built on the spec's rendered key: ``key:(v1, v2)`` for INSERT
        (node.go:192-196, edge.go:250-257); the full per-record statement
        for UPDATE/UPSERT (node.go:231-236, edge.go:305-313); for DELETE
        the bare key when the spec's DELETEs share one prefix (edges,
        edge.go:358-362), else the full statement (tags, node.go:263-266).
    """
    spec.complete()
    spec.validate()
    register_go_quote(df.sparkSession)
    record = F.col(record_col)
    if spec.filter:  # per-record filter (node.go:170-178), pushed to the scan
        df = df.filter(compile_filter(spec.filter, record))

    keys = [
        build_picker_column(k.picker_config(), record).alias(c)
        for c, k in spec.key_specs().items()
    ]
    props = [
        build_picker_column(p.picker_config(), record).alias(f"p_{p.name}")
        for p in spec.props
    ]
    out = df.select(*keys, *props, record, *[F.col(c) for c in keep])

    key = spec.key()
    if spec.mode == Mode.INSERT:
        pcols = [F.col(f"p_{p.name}") for p in spec.props]
        fragment = F.concat(
            key, F.lit(":("), F.concat_ws(", ", *pcols) if pcols else F.lit(""), F.lit(")")
        )
    elif spec.mode in (Mode.UPDATE, Mode.UPSERT):
        clauses = [guard_clause(p, _set_clause(p)) for p in spec.props]
        fragment = F.concat(
            F.lit(spec.statement_prefix), key, F.lit(" SET "),
            F.concat_ws(", ", *clauses), F.lit(";"),
        )
    elif spec.delete_shares_prefix:
        fragment = key
    else:
        fragment = F.concat(F.lit(spec.statement_prefix), key, F.lit(";"))

    return out.withColumn("fragment", fragment)


#: the one body under each kind's public name: the pipeline modules call a
#: tag's mapping ``node_values`` and an edge's ``edge_values``
node_values = edge_values = spec_values
