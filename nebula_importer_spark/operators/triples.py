"""Triple emission: rendered vertex/edge values → (subj, pred, obj) rows.

The reference's semantic output is graph mutations; their content is exactly
a set of triples (FIXTURES.md §3):

* tag row    → ``(vid, "tag:<name>", NULL)`` plus one
               ``(vid, "<tag>.<prop>", value)`` per prop;
* edge row   → ``(src, "<edge>", dst)`` (pred carries ``@rank`` when ranked)
               plus ``(src->dst[@rank], "<edge>.<prop>", value)`` per prop.

Subjects/objects/values are the *rendered literals* (quoted strings, typed
wrappers), so string-VID and int-VID spaces stay distinct and P/R comparison
against the reference mapping is exact.

One body serves both kinds: the spec gives the head triple and its rendered
key, which is every prop triple's subject. Implemented as one explode over a
per-row array of (subj, pred, obj) structs — a single narrow projection, no
shuffle, fully JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.plans.specs import GraphSpec

TRIPLE_COLS = ("subj", "pred", "obj")


def spec_triples(values: DataFrame, spec: GraphSpec, keep: tuple = ()) -> DataFrame:
    """The spec's head triple + one ``(key, "<name>.<prop>", value)`` per
    prop, from ``mapping.spec_values`` output."""
    key = spec.key()
    entries = [
        F.struct(*(c.alias(n) for c, n in zip(spec.head_triple(), TRIPLE_COLS)))
    ]
    for p in spec.props:
        entries.append(
            F.struct(
                key.alias("subj"),
                F.lit(f"{spec.name}.{p.name}").alias("pred"),
                F.col(f"p_{p.name}").alias("obj"),
            )
        )
    exploded = values.select(F.explode(F.array(*entries)).alias("e"), *keep)
    return exploded.select(*(f"e.{c}" for c in TRIPLE_COLS), *keep)


#: the one body under each kind's public name
node_triples = edge_triples = spec_triples
