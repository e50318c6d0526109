"""Driver-contract queries and their DuckDB oracle SQL.

Each entry in :data:`QUERIES` is a callable ``(spark, sf_dir) -> DataFrame``
exercising one implemented operator (SURVEY.md §2 mapping core + the
training-data-pipeline additions); :data:`ORACLES` holds the equivalent ANSI
SQL DuckDB runs on the same parquet tables. Column names/types are aligned on
both sides — the driver compares row count + schema + order-insensitive
value hash.

The Spark side of each query calls the shipped operators; the contract
keeps no copy of a pipeline stage. The KG-pipeline stages are checked by:

* extract (``extract_mentions`` + ``doc_mentions``): ``kg_extract_mentions``
  (gazetteer channel) and ``kg_extract_pattern`` (pattern channel);
* link (``link_mentions``, exact alias broadcast): ``kg_link_alias``, and the
  mention edges of ``kg_triples_docs``;
* canonicalize (``canonical_mapping``): ``kg_canonicalize_cc`` and
  ``kg_canonicalize_lsh``;
* materialize (``predicate_stats``, salted two-phase aggregation):
  ``kg_skew_twophase``;
* corpus (``interleave_documents`` + ``reassemble``): ``spans_roundtrip``.

Engine-portability rules used throughout (so Spark and DuckDB render
identical values):

* doubles never cross the boundary raw — they are either rendered through
  the reference's literal rules (mapping queries) with ranges < 1e7 (Spark
  switches to scientific notation at 1e7), or rounded into DECIMAL;
* timestamps are truncated to seconds before stringification (Spark trims
  trailing zeros in fractional seconds, DuckDB does not);
* hashes are md5 (identical in both engines); min() over fixed-width
  lowercase hex == numeric min.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    exact_duplicates,
    fingerprints,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalized_text,
    simhash_fingerprints,
)
from nebula_importer_spark.operators.mapping import edge_values, node_values
from nebula_importer_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_cosine_pairs,
)
from nebula_importer_spark.operators.statements import assemble_statements
from nebula_importer_spark.operators.textstats import (
    lang_id,
    quality_scores,
    token_counts,
)
from nebula_importer_spark.operators.triples import edge_triples, node_triples
from nebula_importer_spark.pipeline.canonicalize import canonical_mapping
from nebula_importer_spark.pipeline.corpus import (
    explode_spans,
    interleave_documents,
    reassemble,
)
from nebula_importer_spark.pipeline.extract import doc_mentions, extract_mentions
from nebula_importer_spark.pipeline.link import link_mentions
from nebula_importer_spark.pipeline.materialize import predicate_stats
from nebula_importer_spark.plans.specs import EdgeSpec, NodeIDSpec, NodeSpec, PropSpec, RankSpec
from nebula_importer_spark.sources.csv import records_from_columns


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table, re-spread when the scan is coarser than the
    session's parallelism.

    Same input-split guard as pipeline/run.py: the small-SF fixture tables
    arrive as ONE parquet split, which would serialize every per-row map
    stage (shingling, hashing, rendering) onto a single core regardless of
    cluster width — at sf0.1 the MinHash signature stage alone was measured
    7s single-task vs <1s re-spread. On a production-partitioned table the
    scan already has ≥ shuffle-width splits and this is a no-op.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if df.rdd.getNumPartitions() < max(2, target // 2):
        df = df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Mapping-core specs (reference row→graph semantics over driver tables)
# ---------------------------------------------------------------------------

def customer_spec(mode: str = "INSERT", filter_: str | None = None) -> NodeSpec:
    return NodeSpec(
        name="Customer",
        id=NodeIDSpec(type="STRING", concat_items=["c_", 0]),
        props=[
            PropSpec("name", "STRING", 1),
            PropSpec("nationkey", "INT", 2),
            PropSpec("acctbal", "DOUBLE", 3),
            PropSpec(
                "mktsegment", "STRING", 4,
                nullable=True, null_value="", default_value="GENERAL",
            ),
        ],
        mode=mode,
        filter=filter_,
    )


def _customer_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    return records_from_columns(df)


PLACED_SPEC = dict(
    name="placed",
    src=NodeIDSpec(type="STRING", concat_items=["c_", 1]),
    dst=NodeIDSpec(type="INT", index=0),
    props=[PropSpec("status", "STRING", 2), PropSpec("priority", "STRING", 5)],
)


def _orders_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    return records_from_columns(df)


CONTAINS_SPEC = dict(
    name="contains",
    src=NodeIDSpec(type="INT", index=0),
    dst=NodeIDSpec(type="INT", index=1),
    rank=RankSpec(index=3),
    props=[PropSpec("quantity", "DOUBLE", 4), PropSpec("returnflag", "STRING", 5)],
)


def _lineitem_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_returnflag",
    )
    return records_from_columns(df)


def _events_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-projection exercising every value-type converter (SURVEY §1.2)."""
    ev = _t(spark, sf_dir, "events")
    dt = F.date_trunc("second", F.col("ts")).cast("string")
    pre = ev.select(
        F.col("event_id"),
        F.col("ts").cast("date").cast("string").alias("d"),
        dt.alias("dt"),
        F.unix_timestamp(F.col("ts")).cast("string").alias("epoch"),
        F.when(F.col("event_type") == "click", F.lit("")).otherwise(F.col("event_type")).alias("etype"),
        (F.col("value") > 100).cast("string").alias("big"),
        F.concat(F.lit("POINT("), F.col("value").cast("decimal(12,2)").cast("string"), F.lit(" 0)")).alias("wkt"),
        F.substring(dt, 12, 8).alias("t"),
    )
    return records_from_columns(pre)


EVENT_SPEC = NodeSpec(
    name="Event",
    id=NodeIDSpec(type="INT", index=0),
    props=[
        PropSpec("day", "DATE", 1),
        PropSpec("created", "DATETIME", 2),
        PropSpec("ts_epoch", "TIMESTAMP", 3),
        PropSpec("ts_text", "TIMESTAMP", 2),
        PropSpec("etype", "STRING", 4, nullable=True, null_value="", default_value="unknown"),
        PropSpec("big", "BOOL", 5),
        PropSpec("loc", "GEOGRAPHY(POINT)", 6),
        PropSpec("t", "TIME", 7),
    ],
)


# ---------------------------------------------------------------------------
# KG extraction over the flat documents table
# ---------------------------------------------------------------------------

GAZETTEER = ("spark", "customer", "table", "window", "stream", "join")
ALIASES = {
    "spark": "product::spark",
    "flink": "product::flink",
    "customer": "entity::customer",
    "table": "concept::table",
    "window": "concept::window",
    "stream": "concept::stream",
    "join": "op::join",
}


def _mentions(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    gazetteer: tuple[str, ...] = GAZETTEER,
    pattern: str | None = None,
) -> DataFrame:
    """(doc_id, term, n) from the shipped extract, each document one
    ``text`` span — not ``interleave_documents``, whose media spans the
    extract skips while the oracle counts the whole document.

    ``docs`` lets a caller that already scanned the table reuse it —
    ``_t``'s input-split re-spread is a full shuffle, and embedding two of
    them in one plan (e.g. ``_doc_triples``) doubles the scan cost."""
    if docs is None:
        docs = _t(spark, sf_dir, "documents")
    spans = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("text").alias("kind"),
        "text",
        F.lit(0).alias("offset"),
    )
    found = doc_mentions(extract_mentions(spans, gazetteer, pattern=pattern))
    return found.withColumn("doc_id", F.col("doc_id").cast(docs.schema["doc_id"].dataType))


def _linked(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    alias_df = spark.createDataFrame(
        sorted(ALIASES.items()), "term string, entity string"
    )
    return link_mentions(
        _mentions(spark, sf_dir, docs),
        alias_df,
        skip_fuzzy=set(GAZETTEER) <= set(ALIASES),
    )


def _doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))
    tags = docs.select(subj.alias("subj"), F.lit("tag:Document").alias("pred"), F.lit("NULL").alias("obj"))
    langs = docs.select(
        subj.alias("subj"), F.lit("Document.lang").alias("pred"),
        F.concat(F.lit('"'), F.col("lang"), F.lit('"')).alias("obj"),
    )
    mentions = _linked(spark, sf_dir, docs).select(
        subj.alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("entity").alias("obj"),
    )
    return tags.unionByName(langs).unionByName(mentions).dropDuplicates()


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def q_map_vertex_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return node_triples(node_values(_customer_records(spark, sf_dir), customer_spec()), customer_spec())


def q_map_vertex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = customer_spec(
        filter_='Record[4] == "BUILDING" || Record[4] == "AUTOMOBILE"'
    )
    return node_triples(node_values(_customer_records(spark, sf_dir), spec), spec)


def q_map_edge_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = EdgeSpec(**PLACED_SPEC)
    return edge_triples(edge_values(_orders_records(spark, sf_dir), spec), spec)


def q_map_edge_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = EdgeSpec(**CONTAINS_SPEC)
    return edge_triples(edge_values(_lineitem_records(spark, sf_dir), spec), spec)


def q_map_type_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return node_triples(node_values(_events_records(spark, sf_dir), EVENT_SPEC), EVENT_SPEC)


def q_map_statements_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = customer_spec()
    vals = node_values(_customer_records(spark, sf_dir), spec)
    ordered = vals.coalesce(1).sortWithinPartitions(F.col("record")[0].cast("long"))
    return assemble_statements(ordered, spec, batch=128)


def q_map_update_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = customer_spec(mode="UPDATE")
    vals = node_values(_customer_records(spark, sf_dir), spec)
    return assemble_statements(vals, spec, batch=1)


def q_map_delete_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = EdgeSpec(**{**PLACED_SPEC, "props": []}, mode="DELETE")
    vals = edge_values(_orders_records(spark, sf_dir), spec)
    ordered = vals.coalesce(1).sortWithinPartitions(F.col("record")[0].cast("long"))
    return assemble_statements(ordered, spec, batch=128)


def q_map_hash_vid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash() VID function (P7): renders hash("…") textual form.

    NebulaGraph's hash() is server-side; golden parity keeps the textual
    wrapper exactly as the reference does (pkg/spec/v3/nodeid.go:10-12,
    config_test.go:445-449).
    """
    spec = NodeSpec(
        name="Part",
        id=NodeIDSpec(type="STRING", index=1, function="hash"),
        props=[PropSpec("brand", "STRING", 2)],
    )
    df = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return node_triples(node_values(records_from_columns(df), spec), spec)


def q_map_alternative_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NullablePickers (P4): first index whose value ≠ nullValue.

    Primary column is nulled for one region via nullif; the alternative
    index supplies the fallback; both null → defaultValue.
    """
    spec = NodeSpec(
        name="Nation",
        id=NodeIDSpec(type="INT", index=0),
        props=[
            PropSpec(
                "label", "STRING", 1,
                nullable=True, null_value="", alternative_indices=[2],
                default_value="UNKNOWN",
            ),
        ],
    )
    n = _t(spark, sf_dir, "nation")
    pre = n.select(
        "n_nationkey",
        F.when(F.col("n_regionkey") == 0, F.lit("")).otherwise(F.col("n_name")).alias("a"),
        F.when(F.col("n_regionkey") == 1, F.lit("")).otherwise(F.concat(F.lit("alt_"), F.col("n_name"))).alias("b"),
    )
    return node_triples(node_values(records_from_columns(pre), spec), spec)


def q_map_upsert_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT EDGE statements with the fork's per-prop expr guard (P9).

    ``val`` binds to the FULL ``name = value`` clause (reference
    ``SetValueList``, prop.go:130-153), so the skip-NULL guard compares
    against the whole rendered clause string."""
    spec = EdgeSpec(
        name="placed",
        src=NodeIDSpec(type="STRING", concat_items=["c_", 1]),
        dst=NodeIDSpec(type="INT", index=0),
        props=[
            PropSpec("status", "STRING", 2),
            PropSpec(
                "priority", "STRING", 5,
                nullable=True, null_value="1-URGENT",
                expr='val != "`priority` = NULL"',
            ),
        ],
        mode="UPSERT",
    )
    vals = edge_values(_orders_records(spark, sf_dir), spec)
    return assemble_statements(vals, spec, batch=1)


def _customer_vertex_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized Customer vertex table: the store an incremental import
    mutates (integers/strings only at the boundary — acctbal as cents)."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("vid"),
        F.col("c_name").alias("name"),
        F.floor(F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("acct_cents"),
    )


def q_map_apply_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic UPSERT apply (G2/G5 executed, not just rendered): the
    post-state of the Customer vertex table after an order-derived
    mutation batch, per the reference's sequential statement semantics
    (``pkg/spec/v3/node_test.go:377-384``; mode default UPSERT,
    ``pkg/spec/base/mode.go:5-11``). Base = even-keyed customers (odd keys
    exercise the insert branch); batch = one mutation per order setting
    (status, total_cents) keyed by o_custkey, ordered by o_orderkey."""
    from nebula_importer_spark.operators.merge import apply_mutations

    base = _customer_vertex_table(spark, sf_dir).where(
        F.col("vid") % 2 == 0
    ).select(
        "vid", "name", "acct_cents",
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("long").alias("total_cents"),
    )
    batch = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("vid"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long").alias("total_cents"),
        F.col("o_orderkey").alias("seq"),
    )
    return apply_mutations(base, batch, "UPSERT", key_cols=["vid"], seq_col="seq")


def q_map_apply_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic DELETE apply (G3/G6 executed): remove every customer vertex
    that placed an 'F' order (``DELETE TAG`` semantics,
    ``pkg/spec/v3/node_test.go:531-577``)."""
    from nebula_importer_spark.operators.merge import apply_mutations

    base = _customer_vertex_table(spark, sf_dir)
    batch = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("vid"))
    )
    return apply_mutations(base, batch, "DELETE", key_cols=["vid"])


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(_t(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(_t(spark, sf_dir, "documents"))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_t(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(_t(spark, sf_dir, "documents"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_duplicates(_t(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


#: testdata embeddings are fixed 64-d vectors at every SF (TESTDATA.md);
#: passing the dimension lets the sign-sketch use literal hyperplane-weight
#: arrays (same values, none of the per-row interpreted md5 work)
EMB_DIM = 64


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_t(spark, sf_dir, "documents"))


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_cosine_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup — the scale path, oracle-checked
    (the exact all-pairs variant above is the verifier baseline).
    8 planes in 2 OR-ed 4-bit bands with single-bit-flip multiprobe
    (VERDICT r3 'Next round' #5 — the exact-band variant verified only 3
    pairs at the sf0.01 correctness scale): a pair is a candidate when
    either band's keys are within Hamming distance 1. At sf0.01 this
    verifies 48 pairs (recall 0.81 of the 59 exact-cosine pairs at this
    threshold) while candidate generation stays band-bucket-local."""
    from nebula_importer_spark.operators.similarity import embedding_lsh_pairs

    return embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.40, planes=8, bands=2, dim=EMB_DIM,
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < 10), k=5, dim=EMB_DIM)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-k.

    Fully oracle-checked: the sketch/centroid choice is deterministic
    (md5-derived), so DuckDB replicates the *approximate* result exactly."""
    from nebula_importer_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4)


def _recall_df(probes: DataFrame, approx: DataFrame, exact: DataFrame) -> DataFrame:
    """(probe_id, recall_pct): |approx∩exact| × 20 — recall@5 as BIGINT %."""
    hits = (
        approx.select("probe_id", "neighbor_id")
        .join(exact.select("probe_id", "neighbor_id"), ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("h"))
    )
    return (
        probes.select(F.col("vec_id").alias("probe_id"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            (F.coalesce(F.col("h"), F.lit(0)) * 20).cast("long").alias("recall_pct"),
        )
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the LSH sign-sketch ANN vs exact top-k, per probe."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return _recall_df(
        probes, ann_lsh_topk(emb, probes, k=5, dim=EMB_DIM), cosine_topk(emb, probes, k=5)
    )


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF ANN vs exact top-k, per probe."""
    from nebula_importer_spark.operators.similarity import ann_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    return _recall_df(
        probes,
        ann_ivf_topk(emb, probes, k=5, n_centroids=16, nprobe=4),
        cosine_topk(emb, probes, k=5),
    )


def q_kg_extract_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mentions(spark, sf_dir)


def q_kg_extract_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-channel mention detection: regex hits per doc (S13 analog)."""
    return _mentions(spark, sf_dir, gazetteer=(), pattern=r"\b[a-z]*ar[a-z]*\b")


def q_kg_link_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _linked(spark, sf_dir).groupBy("doc_id", "entity").agg(F.sum("n").alias("n"))


def q_kg_triples_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_triples(spark, sf_dir)


def q_kg_canonicalize_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    return canonical_mapping(docs, pairs)


def q_kg_canonicalize_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CC over MinHash-LSH pairs — the pipeline's actual scale path
    (run.py feeds canonical_mapping from minhash_lsh_pairs, never the
    all-pairs exact join), oracle-checked end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.3)
    return canonical_mapping(docs, pairs)


def q_kg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the (hot-key) predicate column:
    the shipped materialize-stage ``predicate_stats``."""
    return predicate_stats(_doc_triples(spark, sf_dir)).select(
        "pred", F.col("n_triples").alias("n")
    )


def q_spans_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint invariant: interleave → reassemble == normalized text."""
    docs = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id").cast("string").alias("doc_id")
    rebuilt = reassemble(interleave_documents(docs.select(doc_id, "text")))
    orig = docs.select(doc_id, normalized_text(F.col("text")).alias("norm"))
    return rebuilt.join(orig, "doc_id").select(
        F.col("doc_id").cast(docs.schema["doc_id"].dataType).alias("doc_id"),
        (F.col("text") == F.col("norm")).alias("ok"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media spans → binary payloads → (fake) decode →
    per-media feature vectors, oracle-checked.

    The md5-derived stand-in features are recomputable by DuckDB from the
    media_ref alone, so every media row's first four feature dims are
    verified value-by-value (as exact BIGINT uint32 recoveries — the float32
    feature is v = u/2³² − ½ with u recoverable via floor(v·2³² + 2³¹ + ½))."""
    from nebula_importer_spark.pipeline.multimodal import decode_media, media_table

    docs = _t(spark, sf_dir, "documents")
    corpus = interleave_documents(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    )
    feats = decode_media(media_table(explode_spans(corpus)), fake=True)

    def u(j: int):
        return (
            F.floor(
                F.element_at("features", j + 1).cast("double") * F.lit(4294967296.0)
                + F.lit(2147483648.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias(f"u{j}")
        )

    return feats.select(
        "doc_id",
        "media_ref",
        "kind",
        F.size("features").cast("int").alias("n_dims"),
        *[u(j) for j in range(4)],
    )


def q_spans_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    corpus = interleave_documents(docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    spans = explode_spans(corpus)
    return spans.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("media_ref") != "", 1).otherwise(0)).alias("n_media"),
    )


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, oracle-checked: event-time windowed counts in
    the SCALE shape — watermark + ``append`` output to a file sink.

    The events table is drained as a file STREAM (``availableNow`` — the
    streaming equivalent of one cron run, streaming/ingest.py) through the
    watermarked windowed aggregation; append mode emits a window exactly
    once, when the watermark passes its end, so state stays O(active
    windows) — the path that runs forever at ingest rates (VERDICT r2
    "What's wrong" #4: the former ``complete``+memory sink held every
    window on the driver and was a test-only shape). After the drain the
    final watermark sits ``delay`` behind the global max event time, so
    the trailing in-flight window(s) are NOT emitted — the DuckDB oracle
    applies the same cutoff. Window starts are whole hours — timestamp
    stringification is engine-identical at second precision.
    """
    import atexit as _atexit
    import shutil as _shutil
    import tempfile as _tempfile

    from nebula_importer_spark.streaming.ingest import (
        start_parquet_sink,
        windowed_counts,
    )

    src = f"{sf_dir}/events.parquet"
    # the streaming file source lists a DIRECTORY of arriving files; the
    # driver table is a single parquet file — stage it as the "arrived" file
    stage = _tempfile.mkdtemp(prefix="stream_events_")
    # the sink table must outlive this call (the returned DataFrame reads it
    # lazily; the driver collects after we return) — reap it at exit
    out = _tempfile.mkdtemp(prefix="stream_out_")
    _atexit.register(_shutil.rmtree, out, ignore_errors=True)
    try:
        _shutil.copy(src, f"{stage}/part-0.parquet")
        schema = spark.read.parquet(src).schema
        # watermarks require TIMESTAMP (with tz); the table stores NTZ — the
        # session is pinned to UTC so the cast is wall-clock identity
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        counts = windowed_counts(
            stream, ts_col="ts", key_col="event_type",
            window="1 hour", watermark="2 minutes",
        )
        q = start_parquet_sink(counts, path=f"{out}/table", checkpoint=f"{out}/ckpt")
        q.awaitTermination()
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    return spark.read.parquet(f"{out}/table").select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, FULLY oracle-checked.

    Drains the events table as a file stream through the
    ``applyInPandasWithState`` gap-sessionizer (streaming/stateful.py): per
    user, sessions break where consecutive event times are > 8h apart.
    Exact-gap segmentation makes the replayed-table result identical to the
    batch definition (lag/cumsum in SQL), so the one genuinely non-SQL
    operator class in this engine — custom keyed state — gets a real
    DuckDB oracle instead of a rows-only check. With a 0-second watermark
    delay the final watermark is the global max event time; each user's
    trailing open session (end + gap ≥ max ts) stays in state unemitted,
    and the oracle applies the same cutoff.
    """
    import atexit as _atexit
    import shutil as _shutil
    import tempfile as _tempfile

    from nebula_importer_spark.streaming.ingest import start_parquet_sink
    from nebula_importer_spark.streaming.stateful import sessionize

    src = f"{sf_dir}/events.parquet"
    stage = _tempfile.mkdtemp(prefix="stream_sess_in_")
    out = _tempfile.mkdtemp(prefix="stream_sess_out_")
    _atexit.register(_shutil.rmtree, out, ignore_errors=True)
    try:
        _shutil.copy(src, f"{stage}/part-0.parquet")
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(stage)
            .select(
                F.col("user_id").cast("string").alias("key"),
                F.col("ts").cast("timestamp").alias("ts"),
            )
            .withWatermark("ts", "0 seconds")
        )
        sessions = sessionize(stream, gap_seconds=8 * 3600)
        q = start_parquet_sink(
            sessions, path=f"{out}/table", checkpoint=f"{out}/ckpt"
        )
        q.awaitTermination()
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    # integer boundary: epoch-ms BIGINT (the operator's own state values —
    # it truncates event time to ms), never stringified timestamps
    return spark.read.parquet(f"{out}/table").select(
        F.col("key").cast("long").alias("user_id"),
        F.unix_millis("session_start").alias("start_ms"),
        F.unix_millis("session_end").alias("end_ms"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over the near-dup doc graph.

    Edges are the capped exact-Jaccard pairs (both directions); nodes are
    ALL documents (isolated docs settle at the base rank). Integer
    micro-unit arithmetic makes the iteration deterministic under any
    partitioning and exactly replicable in the DuckDB oracle.
    """
    from nebula_importer_spark.operators.checkpointing import materialize
    from nebula_importer_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    # cut the pair list's lineage before it fans out: the symmetric union
    # embeds the pair-join subtree on both legs and pagerank's degree join
    # references the edges twice more — without the cut the first job
    # evaluates the (expensive) pair generation repeatedly (measured
    # best-of-3: 7.10 → 5.14 s at sf0.1; VERDICT r3 "What's wrong" #5)
    pairs = materialize(ngram_jaccard_pairs(docs, threshold=0.3))
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    pr = pagerank(
        edges, nodes=docs.select(F.col("doc_id").alias("id")), iterations=5
    )
    return pr.select(F.col("id").alias("doc_id"), "rank_mu")


def q_text_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams: combinable count + TakeOrderedAndProject."""
    from nebula_importer_spark.operators.textstats import topk_ngrams

    return topk_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer k-means assignment (k=8, one Lloyd refinement)."""
    from nebula_importer_spark.operators.clustering import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, refinements=1)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "map_vertex_insert": q_map_vertex_insert,
    "map_vertex_filter": q_map_vertex_filter,
    "map_edge_insert": q_map_edge_insert,
    "map_edge_rank": q_map_edge_rank,
    "map_type_conversions": q_map_type_conversions,
    "map_statements_vertex": q_map_statements_vertex,
    "map_update_vertex": q_map_update_vertex,
    "map_delete_edge": q_map_delete_edge,
    "map_hash_vid": q_map_hash_vid,
    "map_alternative_indices": q_map_alternative_indices,
    "map_upsert_edge": q_map_upsert_edge,
    "map_apply_upsert": q_map_apply_upsert,
    "map_apply_delete": q_map_apply_delete,
    "text_token_count": q_text_token_count,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ann_ivf_recall": q_ann_ivf_recall,
    "kg_extract_mentions": q_kg_extract_mentions,
    "kg_extract_pattern": q_kg_extract_pattern,
    "kg_link_alias": q_kg_link_alias,
    "kg_triples_docs": q_kg_triples_docs,
    "kg_canonicalize_cc": q_kg_canonicalize_cc,
    "kg_canonicalize_lsh": q_kg_canonicalize_lsh,
    "kg_skew_twophase": q_kg_skew_twophase,
    "kg_pagerank": q_kg_pagerank,
    "text_topk_ngrams": q_text_topk_ngrams,
    "cluster_kmeans": q_cluster_kmeans,
    "stream_windowed_counts": q_stream_windowed_counts,
    "stream_sessions": q_stream_sessions,
    "spans_roundtrip": q_spans_roundtrip,
    "spans_media_stats": q_spans_media_stats,
    "multimodal_features": q_multimodal_features,
}


# ---------------------------------------------------------------------------
# oracle_sql()
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

_CUSTOMER_REC = """
  SELECT c_custkey,
         '"c_' || CAST(c_custkey AS VARCHAR) || '"' AS vid,
         '"' || c_name || '"' AS v_name,
         CAST(c_nationkey AS VARCHAR) AS v_nk,
         CASE WHEN CAST(c_acctbal AS VARCHAR) LIKE '%.%'
              THEN CAST(c_acctbal AS VARCHAR)
              ELSE CAST(c_acctbal AS VARCHAR) || '.0' END AS v_ab,
         CASE WHEN COALESCE(c_mktsegment, '') = '' THEN '"GENERAL"'
              ELSE '"' || c_mktsegment || '"' END AS v_mk,
         COALESCE(c_mktsegment, '') AS raw_mk
  FROM customer
"""

_CUSTOMER_TRIPLES = """
  SELECT vid AS subj, 'tag:Customer' AS pred, 'NULL' AS obj FROM rec
  UNION ALL SELECT vid, 'Customer.name', v_name FROM rec
  UNION ALL SELECT vid, 'Customer.nationkey', v_nk FROM rec
  UNION ALL SELECT vid, 'Customer.acctbal', v_ab FROM rec
  UNION ALL SELECT vid, 'Customer.mktsegment', v_mk FROM rec
"""

_CUSTOMER_FRAGMENT = (
    "vid || ':(' || v_name || ', ' || v_nk || ', ' || v_ab || ', ' || v_mk || ')'"
)

_ORDERS_REC = """
  SELECT o_orderkey,
         '"c_' || CAST(o_custkey AS VARCHAR) || '"' AS v_src,
         CAST(o_orderkey AS VARCHAR) AS v_dst,
         '"' || o_orderstatus || '"' AS v_status,
         '"' || o_orderpriority || '"' AS v_prio
  FROM orders
"""

_SHINGLES = f"""
  norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
  tok AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
  sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         FROM tok, unnest(generate_series(1, greatest(len(w)-2, 0))) u(i)),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

# Stop-shingle-capped variant mirroring the operator's DEFAULT_MAX_DF path
# (dedup.py): shingles in > max_df docs are dropped BEFORE the self-join and
# per-doc sizes come from the filtered relation (self-consistent pruned-set
# Jaccard). At sf≤0.1 no shingle reaches the cap, so results equal the
# uncapped ones — the point is that the capped plan is what's oracle-checked.
_SHINGLES_CAPPED = f"""
  norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
  tok AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
  sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          FROM tok, unnest(generate_series(1, greatest(len(w)-2, 0))) u(i)),
  sh AS (SELECT doc_id, s FROM (
           SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh0)
         WHERE df <= 10000),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_JACCARD_PAIRS = """
  inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  -- CAST AS DOUBLE: DuckDB parses 1.0 as DECIMAL (exact math) while Spark
  -- divides in binary double; micro-units floor on the same double matches.
  jp AS (SELECT id_a, id_b,
                CAST(FLOOR(CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) * 1000000.0 + 0.5) AS BIGINT) AS jaccard_micro,
                CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS j_raw
         FROM inter
         JOIN sizes sa ON inter.id_a = sa.doc_id
         JOIN sizes sb ON inter.id_b = sb.doc_id),
  pairs AS (SELECT id_a, id_b, jaccard_micro FROM jp WHERE j_raw >= CAST(0.3 AS DOUBLE))
"""

_MH = ",\n".join(
    f"         MIN(md5('{i}:' || s)) AS mh{i}" for i in range(MINHASH_K)
)
_ROWS = MINHASH_K // LSH_BANDS
_BANDS = "\n  UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({cols}) AS digest FROM sig".format(
        b=b, cols=" || '|' || ".join(f"mh{b * _ROWS + r}" for r in range(_ROWS))
    )
    for b in range(LSH_BANDS)
)

# MinHash banding + verified LSH pairs (mirrors dedup.minhash_lsh_pairs with
# portable=True); assumes _SHINGLES and _JACCARD_PAIRS CTEs in scope.
_MH_CAND = f"""
  sig AS (SELECT doc_id,
{_MH}
          FROM sh GROUP BY doc_id),
  band AS ({_BANDS}),
  cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM band a JOIN band b ON a.band = b.band AND a.digest = b.digest
                                   AND a.doc_id < b.doc_id),
  lshp AS (SELECT c.id_a, c.id_b, p.jaccard_micro
           FROM cand c JOIN pairs p ON c.id_a = p.id_a AND c.id_b = p.id_b)
"""

_SIMHASH_BITS = ",\n".join(
    "         SUM(CAST(FLOOR((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) / {den}) AS BIGINT) % 2) AS b{j}".format(
        pos=j // 4 + 1, den=2 ** (j % 4), j=j
    )
    for j in range(16)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN b{j} * 2 > n THEN {2**j} ELSE 0 END" for j in range(16)
)

_COS_PAIR = """
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
"""


def _cos_sql(av: str, bv: str) -> str:
    """Cosine of two array columns, matching operators.similarity.cosine
    (same left-fold summation order as Spark's ``aggregate``)."""
    def sq(v: str) -> str:
        return f"list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

    dot = (
        f"list_sum(list_transform(range(1, len({av}) + 1), "
        f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)))"
    )
    return f"({dot} / (sqrt({sq(av)}) * sqrt({sq(bv)})))"


# --- LSH sign-sketch replicated in SQL (mirrors similarity.lsh_sign_sketch:
# weight(i,d) = int(md5('hp{i}:'||d)[0:8 hex]) / 2^32 - 0.5) ---------------

def _hex2int_sql(h: str, start: int = 1) -> str:
    """Big-endian uint32 (as exact DOUBLE) from 8 hex digits of ``h``."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {start + k}, 1)) - 1) * {16 ** (7 - k)}.0"
        for k in range(8)
    )


_HEX2INT = _hex2int_sql("h")

def _lsh_sketch_sql(planes: int = 8) -> str:
    """CTEs computing the ``planes``-bit sign-sketch bucket per vector.

    Dimension-generic: the hyperplane weight list spans the fixture's actual
    embedding width (scalar subquery), matching the Spark operator's
    ``size(vec)``-driven sketch for any dim (ADVICE r2: the former hardcoded
    64 would have broken parity silently on a fixture change).
    """
    return f"""
  ndim AS (SELECT MAX(len(embedding)) AS nd FROM embeddings),
  wsrc AS (SELECT i, d, md5('hp' || CAST(i AS VARCHAR) || ':' || CAST(d AS VARCHAR)) AS h
           FROM (SELECT unnest(generate_series(0, {planes - 1})) AS i),
                (SELECT unnest(generate_series(0, (SELECT nd FROM ndim) - 1)) AS d)),
  wlist AS (SELECT i, list(({_HEX2INT}) / 4294967296.0 - 0.5 ORDER BY d) AS wl
            FROM wsrc GROUP BY i),
  proj AS (SELECT e.vec_id, w.i,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                           dd -> CAST(e.embedding[dd] AS DOUBLE) * w.wl[dd])) AS pr
           FROM embeddings e, wlist w),
  sk AS (SELECT vec_id,
                CAST(SUM(CASE WHEN pr >= 0 THEN POWER(2, i) ELSE 0 END) AS INT) AS bucket
         FROM proj GROUP BY vec_id),
  skv AS (SELECT e.vec_id, e.embedding, s.bucket FROM embeddings e JOIN sk s USING (vec_id))
"""


_LSH_SKETCH = _lsh_sketch_sql(8)

_LSH_TOPK = f"""
  lsh_scored AS (SELECT b.vec_id AS probe_id, a.vec_id AS neighbor_id,
                        {_cos_sql('b.embedding', 'a.embedding')} AS cos
                 FROM skv b JOIN skv a ON a.bucket = b.bucket
                 WHERE b.vec_id < 10 AND a.vec_id != b.vec_id),
  lsh_ranked AS (SELECT probe_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY probe_id
                                           ORDER BY cos DESC, neighbor_id ASC) AS rank
                 FROM lsh_scored),
  lsh_topk AS (SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank
               FROM lsh_ranked WHERE rank <= 5)
"""

# --- IVF replicated in SQL (mirrors similarity.ivf_assign: centroids are the
# n vectors minimizing md5(id); broadcast argmin assignment; nprobe lists) ---

_IVF_TOPK = f"""
  cent AS (SELECT vec_id AS list_id, embedding AS centroid
           FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
  asgn AS (SELECT vec_id, embedding, list_id FROM (
             SELECT e.vec_id, e.embedding, c.list_id,
                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                       ORDER BY {_cos_sql('e.embedding', 'c.centroid')} DESC,
                                                c.list_id ASC) AS rr
             FROM embeddings e, cent c) WHERE rr = 1),
  plists AS (SELECT probe_id, probe_vec, list_id FROM (
             SELECT e.vec_id AS probe_id, e.embedding AS probe_vec, c.list_id,
                    ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                       ORDER BY {_cos_sql('e.embedding', 'c.centroid')} DESC,
                                                c.list_id ASC) AS rr
             FROM embeddings e, cent c WHERE e.vec_id < 10) WHERE rr <= 4),
  ivf_scored AS (SELECT pl.probe_id, a.vec_id AS neighbor_id,
                        {_cos_sql('pl.probe_vec', 'a.embedding')} AS cos
                 FROM plists pl JOIN asgn a USING (list_id)
                 WHERE a.vec_id != pl.probe_id),
  ivf_ranked AS (SELECT probe_id, neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY probe_id
                                           ORDER BY cos DESC, neighbor_id ASC) AS rank
                 FROM ivf_scored),
  ivf_topk AS (SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank
               FROM ivf_ranked WHERE rank <= 5)
"""

_EXACT_TOPK = f"""
  ex_scored AS ({_COS_PAIR}
                FROM embeddings b, embeddings a
                WHERE b.vec_id < 10 AND a.vec_id != b.vec_id),
  ex_topk AS (SELECT id_b AS probe_id, id_a AS neighbor_id
              FROM (SELECT id_a, id_b,
                           ROW_NUMBER() OVER (PARTITION BY id_b
                                              ORDER BY cos DESC, id_a ASC) AS rank
                    FROM ex_scored) WHERE rank <= 5)
"""


def _recall_sql(approx_topk: str) -> str:
    """recall@5 per probe (BIGINT percent) of an approximate top-k CTE."""
    return f"""
      hits AS (SELECT t.probe_id, COUNT(*) AS h
               FROM {approx_topk} t JOIN ex_topk e
                 ON t.probe_id = e.probe_id AND t.neighbor_id = e.neighbor_id
               GROUP BY t.probe_id),
      probes AS (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 10)
      SELECT p.probe_id, CAST(COALESCE(h.h, 0) * 20 AS BIGINT) AS recall_pct
      FROM probes p LEFT JOIN hits h USING (probe_id)
    """

_MENTIONS = f"""
  norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
  toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
  mentions AS (SELECT doc_id, term, COUNT(*) AS n FROM toks
               WHERE term IN ('spark', 'customer', 'table', 'window', 'stream', 'join')
               GROUP BY doc_id, term)
"""

_ALIAS_VALUES = ", ".join(f"('{k}', '{v}')" for k, v in sorted(ALIASES.items()))

_LINKED = f"""
  {_MENTIONS},
  aliases(term, entity) AS (VALUES {_ALIAS_VALUES}),
  -- CAST(SUM AS BIGINT): DuckDB SUM(BIGINT) returns HUGEINT, which renders
  -- differently from Spark's BIGINT at the driver's contract boundary
  linked AS (SELECT m.doc_id, a.entity, CAST(SUM(m.n) AS BIGINT) AS n
             FROM mentions m JOIN aliases a USING (term)
             GROUP BY m.doc_id, a.entity)
"""

_DOC_TRIPLES = f"""
  {_LINKED},
  triples AS (
    SELECT DISTINCT subj, pred, obj FROM (
      SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS subj, 'tag:Document' AS pred, 'NULL' AS obj FROM documents
      UNION ALL
      SELECT 'doc:' || CAST(doc_id AS VARCHAR), 'Document.lang', '"' || lang || '"' FROM documents
      UNION ALL
      SELECT 'doc:' || CAST(doc_id AS VARCHAR), 'mentions', entity FROM linked
    )
  )
"""

_EVENTS_REC = """
  SELECT event_id,
         CAST(event_id AS VARCHAR) AS vid,
         'DATE("' || CAST(CAST(ts AS DATE) AS VARCHAR) || '")' AS v_day,
         'DATETIME("' || CAST(date_trunc('second', ts) AS VARCHAR) || '")' AS v_created,
         'TIMESTAMP(' || CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || ')' AS v_epoch,
         'TIMESTAMP("' || CAST(date_trunc('second', ts) AS VARCHAR) || '")' AS v_tstext,
         CASE WHEN event_type = 'click' THEN '"unknown"' ELSE '"' || event_type || '"' END AS v_etype,
         CASE WHEN value > 100 THEN 'true' ELSE 'false' END AS v_big,
         'ST_GeogFromText("POINT(' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) || ' 0)")' AS v_loc,
         'TIME("' || substr(CAST(date_trunc('second', ts) AS VARCHAR), 12, 8) || '")' AS v_t
  FROM events
"""

# --- fixed-point PageRank replicated in SQL (mirrors graph.pagerank: all
# BIGINT math, Spark `div` == DuckDB `//` truncation toward zero) ----------

def _pagerank_sql(iterations: int = 5, damping_pct: int = 85) -> str:
    """CTE chain pr0..pr{iterations} over the capped-Jaccard pair CTE
    (`pairs` must be in scope); one (sum, rank) CTE pair per iteration."""
    base = (100 - damping_pct) * 1_000_000 // 100
    ctes = [
        """
  pr_edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
  pr_deg AS (SELECT src, COUNT(*) AS out_deg FROM pr_edges GROUP BY src),
  pr_nodes AS (SELECT doc_id AS id FROM documents),
  pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank_mu FROM pr_nodes)"""
    ]
    for t in range(iterations):
        ctes.append(
            f"""
  prs{t} AS (SELECT e.dst, SUM(r.rank_mu // d.out_deg) AS s
             FROM pr_edges e JOIN pr_deg d ON e.src = d.src
             JOIN pr{t} r ON e.src = r.id GROUP BY e.dst),
  pr{t + 1} AS (SELECT n.id,
                CAST({base} + ({damping_pct} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank_mu
                FROM pr_nodes n LEFT JOIN prs{t} s ON n.id = s.dst)"""
        )
    return ",".join(ctes)


# --- integer k-means replicated in SQL (mirrors clustering.kmeans_assign) --

def _kmeans_sql(k: int = 8, refinements: int = 1) -> str:
    """CTEs km_vecs/km_cent{r}/km_asg{r}; final assignment = km_asg{refinements}."""

    def dist(c: str) -> str:
        return (
            "list_sum(list_transform(range(1, len(v.v) + 1), "
            f"i -> (v.v[i] - {c}.cv[i]) * (v.v[i] - {c}.cv[i])))"
        )

    def asg(r: int) -> str:
        return f"""
  km_asg{r} AS (SELECT vec_id, cid FROM (
      SELECT v.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                ORDER BY {dist('c')} ASC, c.cid ASC) AS rr
      FROM km_vecs v, km_cent{r} c) WHERE rr = 1)"""

    ctes = [
        f"""
  km_vecs AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS v
              FROM embeddings),
  km_dims AS (SELECT unnest(generate_series(1, (SELECT MAX(len(v)) FROM km_vecs))) AS d),
  km_cent0 AS (SELECT vec_id AS cid, v AS cv FROM km_vecs
               ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {k})"""
    ]
    for r in range(refinements):
        ctes.append(asg(r))
        ctes.append(
            f"""
  km_cent{r + 1} AS (SELECT cid, list(cv ORDER BY d) AS cv FROM (
      SELECT a.cid, dm.d, CAST(SUM(v.v[dm.d]) // COUNT(*) AS BIGINT) AS cv
      FROM km_asg{r} a JOIN km_vecs v USING (vec_id), km_dims dm
      GROUP BY a.cid, dm.d) GROUP BY cid)"""
        )
    ctes.append(asg(refinements))
    return ",".join(ctes)


ORACLES: dict[str, str] = {
    "map_vertex_insert": f"WITH rec AS ({_CUSTOMER_REC}) {_CUSTOMER_TRIPLES}",
    "map_vertex_filter": (
        f"WITH rec AS (SELECT * FROM ({_CUSTOMER_REC}) r"
        " WHERE raw_mk IN ('BUILDING', 'AUTOMOBILE'))"
        f" {_CUSTOMER_TRIPLES}"
    ),
    "map_edge_insert": f"""
      WITH rec AS ({_ORDERS_REC})
      SELECT v_src AS subj, 'placed' AS pred, v_dst AS obj FROM rec
      UNION ALL SELECT v_src || '->' || v_dst, 'placed.status', v_status FROM rec
      UNION ALL SELECT v_src || '->' || v_dst, 'placed.priority', v_prio FROM rec
    """,
    "map_edge_rank": """
      WITH rec AS (
        SELECT CAST(l_orderkey AS VARCHAR) AS v_src,
               CAST(l_partkey AS VARCHAR) AS v_dst,
               CAST(l_linenumber AS VARCHAR) AS v_rank,
               CASE WHEN CAST(l_quantity AS VARCHAR) LIKE '%.%'
                    THEN CAST(l_quantity AS VARCHAR)
                    ELSE CAST(l_quantity AS VARCHAR) || '.0' END AS v_qty,
               '"' || l_returnflag || '"' AS v_rf
        FROM lineitem)
      SELECT v_src AS subj, 'contains@' || v_rank AS pred, v_dst AS obj FROM rec
      UNION ALL SELECT v_src || '->' || v_dst || '@' || v_rank, 'contains.quantity', v_qty FROM rec
      UNION ALL SELECT v_src || '->' || v_dst || '@' || v_rank, 'contains.returnflag', v_rf FROM rec
    """,
    "map_type_conversions": f"""
      WITH rec AS ({_EVENTS_REC})
      SELECT vid AS subj, 'tag:Event' AS pred, 'NULL' AS obj FROM rec
      UNION ALL SELECT vid, 'Event.day', v_day FROM rec
      UNION ALL SELECT vid, 'Event.created', v_created FROM rec
      UNION ALL SELECT vid, 'Event.ts_epoch', v_epoch FROM rec
      UNION ALL SELECT vid, 'Event.ts_text', v_tstext FROM rec
      UNION ALL SELECT vid, 'Event.etype', v_etype FROM rec
      UNION ALL SELECT vid, 'Event.big', v_big FROM rec
      UNION ALL SELECT vid, 'Event.loc', v_loc FROM rec
      UNION ALL SELECT vid, 'Event.t', v_t FROM rec
    """,
    "map_statements_vertex": f"""
      WITH rec AS ({_CUSTOMER_REC}),
      frags AS (SELECT c_custkey, {_CUSTOMER_FRAGMENT} AS frag,
                       (ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) // 128 AS g
                FROM rec)
      SELECT 'INSERT VERTEX IGNORE_EXISTED_INDEX `Customer`(`name`, `nationkey`, `acctbal`, `mktsegment`) VALUES '
             || STRING_AGG(frag, ', ' ORDER BY c_custkey) AS statement,
             CAST(COUNT(*) AS INT) AS n_records
      FROM frags GROUP BY g
    """,
    "map_update_vertex": f"""
      WITH rec AS ({_CUSTOMER_REC})
      SELECT 'UPDATE VERTEX ON `Customer` ' || vid || ' SET `name` = ' || v_name
             || ', `nationkey` = ' || v_nk || ', `acctbal` = ' || v_ab
             || ', `mktsegment` = ' || v_mk || ';' AS statement,
             CAST(1 AS INT) AS n_records
      FROM rec
    """,
    "map_delete_edge": f"""
      WITH rec AS ({_ORDERS_REC}),
      frags AS (SELECT o_orderkey, v_src || '->' || v_dst AS frag,
                       (ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1) // 128 AS g
                FROM rec)
      SELECT 'DELETE EDGE `placed` ' || STRING_AGG(frag, ', ' ORDER BY o_orderkey) AS statement,
             CAST(COUNT(*) AS INT) AS n_records
      FROM frags GROUP BY g
    """,
    "map_hash_vid": """
      WITH rec AS (
        SELECT 'hash("' || p_name || '")' AS vid, '"' || p_brand || '"' AS v_brand
        FROM part)
      SELECT vid AS subj, 'tag:Part' AS pred, 'NULL' AS obj FROM rec
      UNION ALL SELECT vid, 'Part.brand', v_brand FROM rec
    """,
    "map_alternative_indices": """
      WITH rec AS (
        SELECT CAST(n_nationkey AS VARCHAR) AS vid,
               CASE WHEN n_regionkey = 0 THEN '' ELSE n_name END AS a,
               CASE WHEN n_regionkey = 1 THEN '' ELSE 'alt_' || n_name END AS b
        FROM nation),
      v AS (SELECT vid,
                   CASE WHEN a != '' THEN '"' || a || '"'
                        WHEN b != '' THEN '"' || b || '"'
                        ELSE '"UNKNOWN"' END AS v_label
            FROM rec)
      SELECT vid AS subj, 'tag:Nation' AS pred, 'NULL' AS obj FROM v
      UNION ALL SELECT vid, 'Nation.label', v_label FROM v
    """,
    "map_upsert_edge": f"""
      WITH rec AS ({_ORDERS_REC}),
      raw AS (SELECT o_orderkey, o_orderpriority FROM orders)
      SELECT 'UPSERT EDGE ON `placed` ' || r.v_src || '->' || r.v_dst
             || ' SET `status` = ' || r.v_status
             || CASE WHEN raw.o_orderpriority = '1-URGENT' THEN ''
                     ELSE ', `priority` = ' || r.v_prio END
             || ';' AS statement,
             CAST(1 AS INT) AS n_records
      FROM rec r JOIN raw ON r.o_orderkey = raw.o_orderkey
    """,
    "map_apply_upsert": """
      -- sequential UPSERT batch semantics: per key, each prop takes its
      -- latest non-null value in seq (o_orderkey) order; keys absent from
      -- the base table are created with unset props NULL
      WITH base AS (
        SELECT c_custkey AS vid, c_name AS name,
               CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents,
               CAST(NULL AS VARCHAR) AS status, CAST(NULL AS BIGINT) AS total_cents
        FROM customer WHERE c_custkey % 2 = 0),
      net AS (
        SELECT o_custkey AS vid,
               arg_max(o_orderstatus, o_orderkey) AS status,
               arg_max(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT), o_orderkey) AS total_cents
        FROM orders GROUP BY o_custkey)
      SELECT COALESCE(base.vid, net.vid) AS vid,
             base.name AS name,
             base.acct_cents AS acct_cents,
             COALESCE(net.status, base.status) AS status,
             COALESCE(net.total_cents, base.total_cents) AS total_cents
      FROM base FULL OUTER JOIN net ON base.vid = net.vid
    """,
    "map_apply_delete": """
      SELECT c_custkey AS vid, c_name AS name,
             CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_cents
      FROM customer
      WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    "text_token_count": f"""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS INT) AS ws_tokens,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS INT) AS re_tokens,
             CAST(length(text) AS INT) AS n_chars
      FROM documents
    """,
    "text_quality": """
      WITH q AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_tok,
               length(text) AS n_chars,
               len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is'))) AS stops
        FROM documents),
      m AS (SELECT doc_id, n_tok,
                   -- CAST AS DOUBLE everywhere: DuckDB parses 100.0 as
                   -- DECIMAL (exact math) while Spark computes in DOUBLE;
                   -- mixed precision flips round() at tie boundaries
                   CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok AS mean_wl,
                   CAST(stops AS DOUBLE) / n_tok AS stop_ratio
            FROM q)
      SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
             -- floor(x*1e6 + 0.5) AS BIGINT: binary-double rounding into
             -- integer micro-units — engine-identical, and no fractional
             -- type crosses the boundary (DECIMAL stringifies differently)
             CAST(FLOOR(mean_wl * 1000000.0 + 0.5) AS BIGINT) AS mean_word_len_micro,
             CAST(FLOOR(stop_ratio * 1000000.0 + 0.5) AS BIGINT) AS stopword_ratio_micro,
             CAST(FLOOR((
               least(n_tok / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - stop_ratio) * CAST(0.3 AS DOUBLE)
               + least(mean_wl / CAST(8.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.3 AS DOUBLE)
             ) * 1000000.0 + 0.5) AS BIGINT) AS quality_score_micro
      FROM m
    """,
    "text_lang_id": """
      WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents),
      hits AS (SELECT doc_id,
        len(list_filter(w, t -> t IN ('der', 'die', 'das', 'und', 'nicht'))) AS h_de,
        len(list_filter(w, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS h_en,
        len(list_filter(w, t -> t IN ('el', 'la', 'los', 'de', 'que'))) AS h_es,
        len(list_filter(w, t -> t IN ('le', 'la', 'les', 'et', 'que'))) AS h_fr,
        len(list_filter(w, t -> t IN ('de5', 'shi4', 'le5', 'bu4', 'zai4'))) AS h_zh
      FROM toks)
      SELECT doc_id,
             CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                  WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                  WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                  WHEN h_fr >= h_zh THEN 'fr'
                  ELSE 'zh' END AS pred_lang,
             CAST(greatest(h_de, h_en, h_es, h_fr, h_zh) AS INT) AS marker_hits
      FROM hits
    """,
    "text_fingerprint": f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
    "dedup_exact": f"""
      WITH fp AS (SELECT doc_id, md5({_NORM}) AS f FROM documents),
      canon AS (SELECT f, MIN(doc_id) AS canonical_id FROM fp GROUP BY f)
      SELECT fp.doc_id, canon.canonical_id FROM fp JOIN canon USING (f)
    """,
    "dedup_ngram_jaccard": f"WITH {_SHINGLES_CAPPED}, {_JACCARD_PAIRS} SELECT id_a, id_b, jaccard_micro FROM pairs",
    "dedup_minhash_lsh": f"""
      WITH {_SHINGLES}, {_JACCARD_PAIRS}, {_MH_CAND}
      SELECT id_a, id_b, jaccard_micro FROM lshp
    """,
    "dedup_simhash": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      toks AS (SELECT doc_id, md5(unnest(string_split(t, ' '))) AS h FROM norm),
      bits AS (SELECT doc_id, COUNT(*) AS n,
{_SIMHASH_BITS}
               FROM toks GROUP BY doc_id)
      SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM bits
    """,
    "dedup_embedding_cosine": f"""
      WITH p AS ({_COS_PAIR} FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, CAST(FLOOR(cos * 10000.0 + 0.5) AS BIGINT) AS cos_e4
      FROM p WHERE cos >= CAST(0.45 AS DOUBLE)
    """,
    "ann_cosine_topk": f"""
      WITH s AS ({_COS_PAIR}
                 FROM embeddings b, embeddings a
                 WHERE b.vec_id < 10 AND a.vec_id != b.vec_id),
      ranked AS (SELECT id_b AS probe_id, id_a AS neighbor_id,
                        ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY cos DESC, id_a ASC) AS rank
                 FROM s)
      SELECT probe_id, neighbor_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
    """,
    "dedup_embedding_lsh": f"""
      -- single-bit-flip multiprobe: candidate iff some 4-bit band's keys
      -- are within Hamming distance 1 (the Spark side probes key XOR 2^j)
      WITH {_lsh_sketch_sql(8)}
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(FLOOR({_cos_sql('a.embedding', 'b.embedding')} * 10000.0 + 0.5) AS BIGINT) AS cos_e4
      FROM skv a JOIN skv b
        ON a.vec_id < b.vec_id
       AND (bit_count(xor(a.bucket % 16, b.bucket % 16)) <= 1
            OR bit_count(xor(a.bucket // 16, b.bucket // 16)) <= 1)
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= CAST(0.40 AS DOUBLE)
    """,
    "ann_lsh_topk": f"WITH {_LSH_SKETCH}, {_LSH_TOPK} SELECT probe_id, neighbor_id, rank FROM lsh_topk",
    "ann_ivf_topk": f"WITH {_IVF_TOPK} SELECT probe_id, neighbor_id, rank FROM ivf_topk",
    "ann_lsh_recall": f"WITH {_LSH_SKETCH}, {_LSH_TOPK}, {_EXACT_TOPK}, {_recall_sql('lsh_topk')}",
    "ann_ivf_recall": f"WITH {_IVF_TOPK}, {_EXACT_TOPK}, {_recall_sql('ivf_topk')}",
    "kg_extract_mentions": f"WITH {_MENTIONS} SELECT doc_id, term, n FROM mentions",
    "kg_extract_pattern": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      hits AS (SELECT doc_id, unnest(regexp_extract_all(t, '\\b[a-z]*ar[a-z]*\\b')) AS term FROM norm)
      SELECT doc_id, term, COUNT(*) AS n FROM hits GROUP BY doc_id, term
    """,
    "kg_link_alias": f"WITH {_LINKED} SELECT doc_id, entity, n FROM linked",
    "kg_triples_docs": f"WITH {_DOC_TRIPLES} SELECT subj, pred, obj FROM triples",
    "kg_canonicalize_cc": f"""
      WITH RECURSIVE {_SHINGLES_CAPPED}, {_JACCARD_PAIRS},
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
      ),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
    """,
    "kg_canonicalize_lsh": f"""
      WITH RECURSIVE {_SHINGLES}, {_JACCARD_PAIRS}, {_MH_CAND},
      edges AS (SELECT id_a AS u, id_b AS v FROM lshp
                UNION ALL SELECT id_b, id_a FROM lshp),
      reach(id, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
      ),
      comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.id
    """,
    "kg_skew_twophase": f"WITH {_DOC_TRIPLES} SELECT pred, COUNT(*) AS n FROM triples GROUP BY pred",
    "kg_pagerank": f"""
      WITH {_SHINGLES_CAPPED}, {_JACCARD_PAIRS}, {_pagerank_sql(5, 85)}
      SELECT id AS doc_id, rank_mu FROM pr5
    """,
    "stream_sessions": """
      -- exact replica of the stateful gap-sessionizer: ms-truncated event
      -- times (epoch_us // 1000 == the operator's int64-ns // 1e6), break
      -- where the per-user gap exceeds 8h, and the same final-watermark
      -- cutoff (watermark delay 0s -> wm = global max event ms; a user's
      -- trailing session with end + gap >= wm stays in state, unemitted)
      WITH e AS (SELECT user_id, epoch_us(ts) // 1000 AS ms FROM events),
      o AS (SELECT user_id, ms,
                   CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms)
                             > 28800000 THEN 1 ELSE 0 END AS brk
            FROM e),
      s AS (SELECT user_id, ms,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM o),
      g AS (SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid)
      SELECT user_id, start_ms, end_ms, n_events FROM g
      WHERE end_ms + 28800000 < (SELECT MAX(ms) FROM e)
    """,
    "text_topk_ngrams": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      tok AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
      ng AS (SELECT w[i] || ' ' || w[i+1] AS ngram
             FROM tok, unnest(generate_series(1, greatest(len(w) - 1, 0))) u(i))
      SELECT ngram, COUNT(*) AS n FROM ng GROUP BY ngram
      ORDER BY n DESC, ngram ASC LIMIT 20
    """,
    "cluster_kmeans": f"""
      WITH {_kmeans_sql(8, 1)}
      SELECT vec_id, cid AS cluster_id FROM km_asg1
    """,
    "stream_windowed_counts": """
      -- append mode emits a window only once the watermark (global max
      -- event time − 2 min) passes its END; trailing open windows stay in
      -- state and are not emitted — mirror that cutoff here
      SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
             event_type, COUNT(*) AS n
      FROM events
      WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
            <= (SELECT max(ts) - INTERVAL 2 MINUTE FROM events)
      GROUP BY 1, 2
    """,
    "spans_roundtrip": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      tok AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
      chunks AS (SELECT doc_id, t, i,
                        array_to_string(w[(i*5+1):(i*5+5)], ' ') AS chunk
                 FROM tok, unnest(generate_series(0, CAST(ceil(len(w) / 5.0) AS INT) - 1)) u(i)),
      rebuilt AS (SELECT doc_id, t, STRING_AGG(chunk, ' ' ORDER BY i) AS r
                  FROM chunks GROUP BY doc_id, t)
      SELECT doc_id, (r = t) AS ok FROM rebuilt
    """,
    "spans_media_stats": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      tok AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
      spans AS (SELECT doc_id, i,
                       CASE (i + length(t)) % 7
                            WHEN 3 THEN 'image' WHEN 5 THEN 'audio'
                            WHEN 6 THEN 'table_row' ELSE 'text' END AS kind
                FROM tok, unnest(generate_series(0, CAST(ceil(len(w) / 5.0) AS INT) - 1)) u(i))
      SELECT kind, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN kind != 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_media
      FROM spans GROUP BY kind
    """,
    "multimodal_features": f"""
      WITH norm AS (SELECT doc_id, {_NORM} AS t FROM documents),
      tok AS (SELECT doc_id, t, string_split(t, ' ') AS w FROM norm),
      spans AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, i,
                       CASE (i + length(t)) % 7
                            WHEN 3 THEN 'image' WHEN 5 THEN 'audio'
                            WHEN 6 THEN 'table_row' ELSE 'text' END AS kind
                FROM tok, unnest(generate_series(0, CAST(ceil(len(w) / 5.0) AS INT) - 1)) u(i)),
      media AS (SELECT doc_id, kind,
                       'media://' || doc_id || '/' || CAST(i AS VARCHAR) AS media_ref
                FROM spans WHERE kind != 'text'),
      -- features are md5(media_ref || ':0') big-endian uint32 blocks,
      -- round-tripped through REAL to match the operator's float32 column
      dig AS (SELECT doc_id, media_ref, kind, md5(media_ref || ':0') AS h FROM media)
      SELECT doc_id, media_ref, kind, CAST(16 AS INT) AS n_dims,
             {", ".join(
                 "CAST(FLOOR(CAST(CAST((" + _hex2int_sql("h", 8 * j + 1)
                 + ") / 4294967296.0 - 0.5 AS REAL) AS DOUBLE) * 4294967296.0"
                 " + 2147483648.0 + 0.5) AS BIGINT) AS u" + str(j)
                 for j in range(4)
             )}
      FROM dig
    """,
}
