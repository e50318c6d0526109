"""Row→graph mapping: record DataFrames → rendered vertex/edge values.

This is the DataFrame re-expression of the reference's statement builders
(``/root/reference/pkg/spec/v3/node.go:163-272``, ``edge.go:208-372``): the
per-record filter, VID/prop pick+convert, and the per-record statement
*fragment* are all compiled to Column expressions, so the entire map runs
JVM-side as narrow projections with zero shuffles. Statement
assembly (grouping fragments into ≤batch statements) lives in
:mod:`nebula_importer_spark.operators.statements`.

Scale note: these operators are embarrassingly parallel projections/filters —
at 100 TB they pipeline with the scan, and Catalyst pushes the record filter
into the source when the record array is built from real columns.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.functions.filters import compile_filter
from nebula_importer_spark.functions.pickers import build_picker_column, register_go_quote
from nebula_importer_spark.plans.specs import EdgeSpec, Mode, NodeSpec

RECORD_COL = "record"


def _apply_filter(df: DataFrame, filter_expr: Optional[str], record: Column) -> DataFrame:
    """Per-record filter (``node.go:170-178``) — pushed to the scan here."""
    if filter_expr:
        return df.filter(compile_filter(filter_expr, record))
    return df


def _prop_values(spec_props, record: Column) -> List[Column]:
    return [build_picker_column(p.picker_config(), record) for p in spec_props]


def _set_clauses(spec_props) -> List[Column]:
    """Per-prop ``name = value`` SET clauses for UPDATE/UPSERT.

    The guard ``expr`` env binds ``val`` to the FULL clause string — the
    reference's ``SetValue`` returns ``convertedName + " = " + value`` and
    ``SetValueList`` passes that whole string as ``val``
    (``prop.go:69-75,130-153``) — so e.g. ``val != "`p` = NULL"`` is the
    idiomatic skip-NULL guard, while ``val != "NULL"`` is (faithfully)
    always true. A false guard yields NULL, and ``concat_ws`` drops NULL
    elements — exactly the reference's skip-this-clause semantics.
    """
    out: List[Column] = []
    for p in spec_props:
        clause = F.concat(F.lit(p.converted_name + " = "), F.col(f"p_{p.name}"))
        if p.expr:
            guard = compile_filter(p.expr, variables={"val": clause})
            clause = F.when(guard, clause)
        out.append(clause)
    return out


def node_values(
    df: DataFrame,
    spec: NodeSpec,
    record_col: str = RECORD_COL,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Project a record DataFrame to rendered (vid, props..., fragment).

    Output columns:
      * ``vid``       — rendered VID literal (quoted for STRING vids);
      * ``p_<name>``  — rendered literal per prop;
      * ``fragment``  — the per-record statement piece for ``spec.mode``
        (``vid:(v1, v2)`` for INSERT — node.go:192-196; the full per-record
        statement for UPDATE/UPSERT — node.go:231-236; bare vid for DELETE).
    """
    spec.complete()
    spec.validate()
    register_go_quote(df.sparkSession)
    record = F.col(record_col)
    df = _apply_filter(df, spec.filter, record)

    vid = build_picker_column(spec.id.picker_config(), record).alias("vid")
    props = [
        v.alias(f"p_{p.name}") for v, p in zip(_prop_values(spec.props, record), spec.props)
    ]

    out = df.select(vid, *props, record, *[F.col(c) for c in keep])
    pcols = [F.col(f"p_{p.name}") for p in spec.props]

    if spec.mode == Mode.INSERT:
        fragment = F.concat(
            F.col("vid"), F.lit(":("), F.concat_ws(", ", *pcols) if pcols else F.lit(""), F.lit(")")
        )
    elif spec.mode in (Mode.UPDATE, Mode.UPSERT):
        fragment = F.concat(
            F.lit(spec.statement_prefix),
            F.col("vid"),
            F.lit(" SET "),
            F.concat_ws(", ", *_set_clauses(spec.props)),
            F.lit(";"),
        )
    else:  # DELETE: "DELETE TAG name FROM vid;" per record (node.go:263-266)
        fragment = F.concat(F.lit(spec.statement_prefix), F.col("vid"), F.lit(";"))

    return out.withColumn("fragment", fragment)


def edge_values(
    df: DataFrame,
    spec: EdgeSpec,
    record_col: str = RECORD_COL,
    keep: Sequence[str] = (),
) -> DataFrame:
    """Project a record DataFrame to rendered (src, dst, rank, props, fragment).

    Fragment shapes per mode mirror ``edge.go:250-257`` (INSERT
    ``src->dst@rank:(v…)``), ``edge.go:305-313`` (UPDATE/UPSERT), and
    ``edge.go:358-362`` (DELETE ``src->dst@rank``).
    """
    spec.complete()
    spec.validate()
    register_go_quote(df.sparkSession)
    record = F.col(record_col)
    df = _apply_filter(df, spec.filter, record)

    src = build_picker_column(spec.src.picker_config(), record).alias("src")
    dst = build_picker_column(spec.dst.picker_config(), record).alias("dst")
    cols = [src, dst]
    if spec.rank is not None:
        cols.append(build_picker_column(spec.rank.picker_config(), record).alias("rank"))
    props = [
        v.alias(f"p_{p.name}") for v, p in zip(_prop_values(spec.props, record), spec.props)
    ]
    out = df.select(*cols, *props, record, *[F.col(c) for c in keep])

    rank_part = (
        F.concat(F.lit("@"), F.col("rank")) if spec.rank is not None else F.lit("")
    )
    endpoint = F.concat(F.col("src"), F.lit("->"), F.col("dst"), rank_part)
    pcols = [F.col(f"p_{p.name}") for p in spec.props]

    if spec.mode == Mode.INSERT:
        fragment = F.concat(
            endpoint, F.lit(":("), F.concat_ws(", ", *pcols) if pcols else F.lit(""), F.lit(")")
        )
    elif spec.mode in (Mode.UPDATE, Mode.UPSERT):
        fragment = F.concat(
            F.lit(spec.statement_prefix),
            endpoint,
            F.lit(" SET "),
            F.concat_ws(", ", *_set_clauses(spec.props)),
            F.lit(";"),
        )
    else:  # DELETE: fragments joined with ", " under one prefix (edge.go:321-372)
        fragment = endpoint

    return out.withColumn("fragment", fragment)
