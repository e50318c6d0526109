"""Span-sequence invariants for the interleaved corpus (input_hint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nebula_importer_spark.pipeline.corpus import (
    CORPUS_SCHEMA,
    explode_spans,
    interleave_documents,
    reassemble,
    synthetic_corpus,
)


def _flat_docs(spark):
    return spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the lazy dog today"),
            ("d2", "spark reads parquet and writes iceberg tables at scale"),
            ("d3", "one two"),
        ],
        "doc_id string, text string",
    )


def test_schema_matches_input_hint(spark):
    corpus = interleave_documents(_flat_docs(spark))
    assert corpus.schema["doc_id"].dataType.simpleString() == "string"
    spans_t = corpus.schema["spans"].dataType.simpleString()
    assert spans_t == "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def test_roundtrip_byte_equal(spark):
    """explode → reassemble == normalized text, per doc (FIXTURES.md §1)."""
    docs = _flat_docs(spark)
    corpus = interleave_documents(docs)
    rebuilt = {r.doc_id: r.text for r in reassemble(corpus).collect()}
    for r in docs.collect():
        assert rebuilt[r.doc_id] == r.text


def test_span_sequence_survives_explode(spark):
    """(kind, text, media_ref, order) sequence is byte-equal after a
    shuffle-heavy explode → repartition → regroup round trip."""
    corpus = interleave_documents(_flat_docs(spark))
    original = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in corpus.collect()
    }
    spans = explode_spans(corpus).repartition(7, "text")
    regrouped = (
        spans.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("seq")
        )
        .collect()
    )
    for r in regrouped:
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in r.seq]
        assert got == original[r.doc_id]


def test_offsets_strictly_increasing_and_media_refs(spark):
    spans = explode_spans(interleave_documents(_flat_docs(spark))).collect()
    by_doc: dict[str, list] = {}
    for s in spans:
        by_doc.setdefault(s.doc_id, []).append(s)
    for rows in by_doc.values():
        offs = [s.offset for s in sorted(rows, key=lambda s: s.offset)]
        assert offs == list(range(len(offs)))
        for s in rows:
            if s.kind == "text":
                assert s.media_ref == ""
            else:
                assert s.media_ref.startswith("media://")


def test_synthetic_corpus_deterministic_and_partition_invariant(spark):
    a = synthetic_corpus(spark, 50, seed=7, partitions=2).collect()
    b = synthetic_corpus(spark, 50, seed=7, partitions=5).collect()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)
    c = synthetic_corpus(spark, 50, seed=8, partitions=2).collect()
    assert sorted(a, key=key) != sorted(c, key=key)


def test_synthetic_corpus_fixture_spans(spark):
    rows = ["933|Mahinda|Perera", "1129|Carmen|Lepland"]
    corpus = synthetic_corpus(spark, 20, seed=7, fixture_rows=rows, partitions=2)
    fx = [
        s
        for r in corpus.collect()
        for s in r.spans
        if s.media_ref.startswith("fixture://")
    ]
    assert len(fx) == 20  # one fixture span per doc
    assert {s.text for s in fx} <= set(rows)
    assert all(s.kind == "table_row" for s in fx)


def test_synthetic_corpus_has_near_duplicates(spark):
    corpus = synthetic_corpus(spark, 200, seed=42, partitions=4)
    texts = {r.doc_id: " ".join(s.text for s in sorted(r.spans, key=lambda s: s.offset))
             for r in corpus.collect()}
    # planted near-dups: doc i clones i-1 with one token mutated
    near = 0
    ids = sorted(texts)
    for a, b in zip(ids, ids[1:]):
        ta, tb = texts[a].split(), texts[b].split()
        if ta != tb and len(ta) == len(tb):
            diff = sum(x != y for x, y in zip(ta, tb))
            if diff <= 1:
                near += 1
    assert near >= 3


def _operators(df) -> list[str]:
    """Physical operator lines of ``df``'s (pre-AQE) executed plan."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return [line.lstrip(" :+-") for line in tree.splitlines()]


def test_spans_roundtrip_plan_reassembles_without_shuffle(spark):
    """The contract's round trip runs the shipped ``reassemble``: spans are
    sorted inside one projection per document, so the plan holds no
    aggregate and no exchange keyed on the document id."""
    from nebula_importer_spark.contract import QUERIES

    ops = _operators(QUERIES["spans_roundtrip"](spark, "/root/testdata/sf0.001"))
    assert not [op for op in ops if "Aggregate" in op.split(" ")[0]]
    assert not [op for op in ops if "hashpartitioning(doc_id" in op]


def test_multimodal_features_plan_is_narrow(spark):
    """interleave → explode → decode pipelines with the scan: no sort, and
    the only exchange is the input re-spread's round-robin."""
    from nebula_importer_spark.contract import QUERIES

    ops = _operators(QUERIES["multimodal_features"](spark, "/root/testdata/sf0.001"))
    names = [op.split(" ")[0] for op in ops]
    assert "MapInPandas" in names
    assert not [n for n in names if "Sort" in n]
    exchanges = [op for op in ops if op.startswith("Exchange")]
    assert exchanges and all("RoundRobinPartitioning" in op for op in exchanges)
