"""Interleaved-document corpus: schema + deterministic synthesis.

The pipeline's input table (``BASELINE.json`` ``input_hint``) is

    doc_id : string
    spans  : array<struct<kind:string, text:string, media_ref:string, offset:int>>

with ``kind ∈ {text, image, audio, table_row}``, ``media_ref`` empty for
text spans, and ``offset`` strictly increasing within a doc (the order key).

Two constructors:

* :func:`interleave_documents` — derive a spans corpus from a flat
  ``(doc_id, text, …)`` table (the driver's ``documents.parquet``) by
  chunking tokens into spans; fully column-native (no UDF), deterministic.
* :func:`synthetic_corpus` — generate an arbitrary-size corpus from
  ``spark.range`` with md5-derived pseudo-randomness (seeded, wall-clock
  free), optionally embedding reference-fixture CSV lines as ``table_row``
  spans so the golden row→graph mapping is exercised through the document
  pathway (FIXTURES.md §1).

Invariant (tested): exploding and reassembling spans in offset order is
byte-equal per document.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nebula_importer_spark.operators.dedup import normalized_text

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA, False), False),
    ]
)

KINDS = ("text", "image", "audio", "table_row")


def _kind_for(i: Column, salt: Column) -> Column:
    """Deterministic kind for chunk ``i``: mostly text, sprinkled media."""
    sel = F.pmod(i + salt, F.lit(7))
    return (
        F.when(sel == 3, F.lit("image"))
        .when(sel == 5, F.lit("audio"))
        .when(sel == 6, F.lit("table_row"))
        .otherwise(F.lit("text"))
    )


def interleave_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 5,
) -> DataFrame:
    """Chunk a flat text table into the interleaved spans shape.

    Every span keeps its chunk of words as ``text`` (a ``table_row`` span's
    text is its payload row; media spans get a ``media_ref``), so joining
    span texts in offset order reproduces the normalized document text —
    the round-trip invariant. Column-native: transform over a sequence.
    """
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int")
    salt = F.length(norm)  # deterministic per-doc phase for kind cycling
    doc_id = F.col(id_col).cast("string")

    def make_span(i: Column) -> Column:
        kind = _kind_for(i, salt)
        return F.struct(
            kind.alias("kind"),
            F.array_join(F.slice(toks, i * chunk_words + 1, chunk_words), " ").alias("text"),
            F.when(kind == "text", F.lit("")).otherwise(
                F.concat(F.lit("media://"), doc_id, F.lit("/"), i.cast("string"))
            ).alias("media_ref"),
            i.cast("int").alias("offset"),
        )

    spans = F.transform(F.sequence(F.lit(0), n_chunks - 1), make_span)
    return df.select(doc_id.alias("doc_id"), spans.alias("spans"))


def reassemble(corpus: DataFrame) -> DataFrame:
    """(doc_id, text): join span texts in offset order (round-trip check).

    ``sort_array`` over (offset, text) structs keeps everything inside one
    narrow projection — no explode, no shuffle.
    """
    ordered = F.sort_array(
        F.transform(
            F.col("spans"), lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t"))
        )
    )
    text = F.array_join(F.transform(ordered, lambda s: s["t"]), " ")
    return corpus.select("doc_id", text.alias("text"))


def explode_spans(corpus: DataFrame) -> DataFrame:
    """Flatten to (doc_id, kind, text, media_ref, offset) span rows."""
    return corpus.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _h(*cols: Column) -> Column:
    """Deterministic non-negative 63-bit int from xxhash64 of the parts.

    xxhash64 is JVM-side and ~100× cheaper than md5-hex parsing; the corpus
    generator never crosses the DuckDB oracle boundary so engine-portable
    hashing is not required here."""
    return F.abs(F.xxhash64(F.concat_ws(":", *cols)))


# Small vocabulary for synthetic span text; entity-bearing tokens overlap the
# gazetteer used by the extract stage so mention detection finds real work.
_VOCAB = (
    "spark flink trino presto kafka iceberg parquet arrow shuffle join "
    "window agg scan filter sort merge batch stream row column the a of"
).split()


def synthetic_corpus(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    fixture_rows: Optional[Sequence[str]] = None,
    dup_fraction: float = 0.05,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Seeded synthetic interleaved corpus of ``n_docs`` documents.

    * words drawn from a small vocab via md5(seed, doc, pos) — no RNG state,
      so any partition regenerates identically (resume-friendly);
    * ``dup_fraction`` of docs are near-duplicates of an earlier doc (same
      words, one token changed) to exercise the dedup/linking stages;
    * ``fixture_rows`` (reference CSV lines) are embedded round-robin as
      ``table_row`` spans — the golden-mapping payload per FIXTURES.md §1.

    Built entirely from ``spark.range`` + column functions: generation is
    embarrassingly parallel and scales to any n_docs.
    """
    base = spark.range(0, n_docs, numPartitions=partitions)
    s = F.lit(str(seed))
    doc = F.col("id")

    # near-dup structure: doc i with h%1000 < dup_fraction*1000 clones doc i-1
    is_dup = (_h(s, F.lit("dup"), doc) % 1000) < int(dup_fraction * 1000)
    src_doc = F.when(is_dup & (doc > 0), doc - 1).otherwise(doc)

    n_words = (_h(s, F.lit("len"), src_doc) % 80 + 20).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in _VOCAB]),
            (_h(s, F.lit("w"), src_doc, i) % len(_VOCAB) + 1).cast("int"),
        ),
    )
    # dup docs mutate one token so they are near- not exact duplicates
    words = F.when(
        is_dup & (doc > 0),
        F.transform(
            words,
            lambda w, i: F.when(i == (_h(s, F.lit("mut"), doc) % n_words).cast("int"),
                                F.lit("mutated")).otherwise(w),
        ),
    ).otherwise(words)

    text = F.array_join(words, " ")
    flat = base.select(
        F.lpad(doc.cast("string"), 12, "0").alias("doc_id"), text.alias("text")
    )
    corpus = interleave_documents(flat, chunk_words=5)

    if fixture_rows:
        rows_arr = F.array(*[F.lit(r) for r in fixture_rows])
        fixture_span = F.struct(
            F.lit("table_row").alias("kind"),
            F.element_at(rows_arr, (_h(s, F.lit("fx"), F.col("doc_id")) % len(fixture_rows) + 1).cast("int")).alias("text"),
            F.concat(F.lit("fixture://"), F.col("doc_id")).alias("media_ref"),
            F.size("spans").cast("int").alias("offset"),
        )
        corpus = corpus.select(
            "doc_id", F.concat(F.col("spans"), F.array(fixture_span)).alias("spans")
        )
    return corpus
