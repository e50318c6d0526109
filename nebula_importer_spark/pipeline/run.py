"""End-to-end KG-construction pipeline: extract → link → canonicalize →
materialize, with lineage/resume.

The flagship flow mandated by the north rule, over the interleaved corpus
(``doc_id, spans``):

1. explode spans; vectorized mention detection (extract.py);
2. broadcast alias linking + LSH fuzzy channel (link.py);
3. doc near-dup detection (MinHash-LSH over reassembled text) → connected
   components → canonical doc IDs (canonicalize.py);
4. fixture ``table_row`` spans replayed through the reference-faithful
   mapping core (specs → triples), so the emitted (subj, pred, obj) set
   matches the importer's row→graph mapping on its golden fixtures;
5. dedup'd triple materialization + salted predicate stats;
6. optional bucket-partitioned write + lineage rows (idempotent resume).

Resume semantics: canonicalization is a *global* stage — it always runs over
the full corpus (its cost is one scan + the near-dup join; production would
checkpoint it separately). Per-document work (extract/link/triple emission)
is the expensive part and is bucketed: every triple is attributed to the
document that produced it (``src_doc``), buckets whose lineage rows exist
are skipped on resume, and the output table is deduplicated *within* each
bucket, so any schedule of waves/kills/retries converges to the same table
as one uninterrupted run (tests/test_pipeline.py::test_lineage_resume_*).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.operators.dedup import minhash_lsh_pairs
from nebula_importer_spark.operators.mapping import edge_values, node_values
from nebula_importer_spark.operators.triples import spec_triples
from nebula_importer_spark.pipeline.canonicalize import canonical_mapping
from nebula_importer_spark.pipeline.corpus import explode_spans, reassemble
from nebula_importer_spark.pipeline.extract import doc_mentions, extract_mentions
from nebula_importer_spark.pipeline.lineage import Checkpoint, with_bucket, write_partitioned
from nebula_importer_spark.pipeline.link import link_mentions
from nebula_importer_spark.pipeline.materialize import predicate_stats
from nebula_importer_spark.plans.specs import EdgeSpec, NodeSpec

DEFAULT_GAZETTEER = (
    "spark", "flink", "trino", "presto", "kafka", "iceberg", "parquet", "arrow",
)
DEFAULT_ALIASES: dict[str, str] = {
    "spark": "product::spark",
    "flink": "product::flink",
    "trino": "product::trino",
    "presto": "product::trino",   # alias collapse: presto → trino lineage
    "kafka": "product::kafka",
    "iceberg": "format::iceberg",
    "parquet": "format::parquet",
    "arrow": "format::arrow",
}

TRIPLE_KEY = ["subj", "pred", "obj"]


@dataclass
class PipelineResult:
    triples: DataFrame
    canonical: DataFrame
    stats: DataFrame
    lineage: Optional[DataFrame] = None
    progress: list = field(default_factory=list)  # ProgressReporter rows
    _cached: list = field(default_factory=list)   # persisted handles

    def unpersist(self) -> None:
        """Release the run's persisted relations.

        The returned ``triples``/``canonical`` plans reference caches built
        during the run (corpus, spans, linked mentions); they stay pinned
        until released, so repeated ``run_pipeline`` calls in one session
        (benchmark repeats, notebook loops) accumulate executor memory.
        Call this once the results are consumed — the DataFrames remain
        valid afterwards, they just recompute if used again.
        """
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def fixture_records(spans: DataFrame, delimiter: str = "|") -> DataFrame:
    """table_row spans with fixture payloads → record DataFrame (+doc_id).

    The document pathway for golden-mapping replay (FIXTURES.md §1): each
    fixture span's text is one reference CSV line; split to the
    ``record: array<string>`` shape the mapping core consumes.
    """
    rows = spans.where(
        (F.col("kind") == "table_row") & F.col("media_ref").startswith("fixture://")
    )
    return rows.select(
        "doc_id", F.split(F.col("text"), f"[{delimiter}]").alias("record")
    )


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    gazetteer: Sequence[str] = DEFAULT_GAZETTEER,
    aliases: Optional[dict[str, str]] = None,
    fixture_node_specs: Sequence[NodeSpec] = (),
    fixture_edge_specs: Sequence[EdgeSpec] = (),
    fixture_delimiter: str = "|",
    dedup_threshold: float = 0.6,
    checkpoint: Optional[Checkpoint] = None,
    output_path: Optional[str] = None,
    n_buckets: int = 32,
    bucket_filter: Optional[Sequence[int]] = None,
    before_hooks: Sequence[str] = (),
    after_hooks: Sequence[str] = (),
    stats_interval_sec: Optional[float] = None,
) -> PipelineResult:
    """Run the KG-construction pipeline over an interleaved corpus.

    ``bucket_filter`` restricts this wave to the given buckets (operational
    sharding); ``checkpoint`` additionally skips buckets already recorded.
    ``corpus`` must always be the FULL corpus — canonicalization is global.
    ``stats_interval_sec`` (manager.statsInterval analog) turns on the live
    progress reporter; its rows land in ``PipelineResult.progress``.
    """
    t0 = time.time()
    reporter = None
    if stats_interval_sec is not None:
        from nebula_importer_spark.pipeline.progress import ProgressReporter

        reporter = ProgressReporter(spark, interval_sec=stats_interval_sec).start()
    # before-hooks: driver-side DDL before the run, the analog of the
    # reference's manager exec hooks (pkg/manager/manager.go:288-334);
    # a failing before-hook aborts the run, matching m.Before()'s error
    # return at manager.go:222 (raw nGQL is recorded+skipped, see importer)
    from nebula_importer_spark.pipeline.importer import _exec_hooks

    _exec_hooks(spark, before_hooks)
    alias_map = DEFAULT_ALIASES if aliases is None else aliases
    alias_df = spark.createDataFrame(
        sorted(alias_map.items()), "term string, entity string"
    )

    # input-split guard: a small/compressed corpus table can arrive as a
    # handful of scan splits (maxPartitionBytes), which would serialize the
    # whole per-doc chain no matter how many cores exist. Re-spread to the
    # session's shuffle width when the scan is coarser than half of it —
    # on a well-partitioned production table this is a no-op.
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if corpus.rdd.getNumPartitions() < max(2, target // 2):
        corpus = corpus.repartition(target, F.col("doc_id"))
    corpus = with_bucket(corpus, n_buckets).persist()

    # global stage: near-dup pairs + connected components over ALL docs.
    # minhash_lsh_pairs reads flat once (the signature pass, which it cuts),
    # but flat stays persisted: dropping the cache was not faster on the
    # 500-doc synthetic corpus (3 alternating pairs of 10 runs, local[4]:
    # median 3.50 / 2.76 / 2.68 s without it, 3.24 / 2.36 / 2.80 s with it)
    flat = reassemble(corpus.select("doc_id", "spans")).persist()
    # internal only → portable=False, the xxhash64 fast path
    pairs = minhash_lsh_pairs(flat, threshold=dedup_threshold, portable=False)
    canon = canonical_mapping(corpus.select("doc_id"), pairs).persist()
    # canonical_mapping has already computed the pairs, and its component
    # labels are a driver-built or checkpointed relation, so the reassembled
    # text is no longer referenced by any live plan — release it now rather
    # than at result-consumption time (it is the widest cache of the run)
    flat.unpersist()

    # per-document work: restrict to pending buckets (resume + wave filter)
    pending = corpus
    if checkpoint is not None:
        done = checkpoint.completed_buckets(spark)
        if done:
            pending = pending.where(~F.col("bucket").isin(done))
    if bucket_filter is not None:
        pending = pending.where(F.col("bucket").isin(list(bucket_filter)))

    spans = explode_spans(pending.select("doc_id", "spans")).persist()

    mentions = doc_mentions(extract_mentions(spans, gazetteer))
    # gazetteer ⊆ alias keys ⇒ every mention resolves exactly; decide
    # driver-side so no probe job runs. persist: linked feeds both the
    # entity-tag and mention-edge branches (one extract pass, not two).
    covered = set(gazetteer) <= set(alias_map)
    linked = link_mentions(mentions, alias_df, skip_fuzzy=covered).persist()

    pending_canon = canon.join(pending.select("doc_id"), "doc_id")
    doc_subj = F.concat(F.lit("doc:"), F.col("canonical_id"))

    doc_tags = pending_canon.select(
        doc_subj.alias("subj"), F.lit("tag:Document").alias("pred"),
        F.lit("NULL").alias("obj"), F.col("doc_id").alias("src_doc"),
    )
    linked_canon = linked.join(canon, "doc_id")
    entity_tags = linked_canon.select(
        F.col("entity").alias("subj"), F.lit("tag:Entity").alias("pred"),
        F.lit("NULL").alias("obj"), F.col("doc_id").alias("src_doc"),
    )
    mention_edges = linked_canon.select(
        doc_subj.alias("subj"), F.lit("mentions").alias("pred"),
        F.col("entity").alias("obj"), F.col("doc_id").alias("src_doc"),
    )
    same_as = pending_canon.where(F.col("doc_id") != F.col("canonical_id")).select(
        F.concat(F.lit("doc:"), F.col("doc_id")).alias("subj"),
        F.lit("sameAs").alias("pred"),
        doc_subj.alias("obj"),
        F.col("doc_id").alias("src_doc"),
    )

    # fixture replay through the reference-faithful mapping core
    # (one body maps both kinds, called by each kind's public name)
    fixture_triples: list[DataFrame] = []
    records = fixture_records(spans, fixture_delimiter)
    for values_of, specs in (
        (node_values, fixture_node_specs), (edge_values, fixture_edge_specs)
    ):
        for spec in specs:
            vals = values_of(records, spec, keep=["doc_id"])
            fixture_triples.append(
                spec_triples(vals, spec, keep=("doc_id",)).withColumnRenamed(
                    "doc_id", "src_doc"
                )
            )

    parts = [doc_tags, entity_tags, mention_edges, same_as, *fixture_triples]
    attributed = parts[0]
    for p in parts[1:]:
        attributed = attributed.unionByName(p)

    lineage_rows = None
    if output_path is not None:
        # per-bucket dedup: each bucket's content depends only on its docs +
        # the global canon, so waves/retries reproduce identical partitions
        bucketed = with_bucket(attributed, n_buckets, id_col="src_doc").dropDuplicates(
            ["bucket", *TRIPLE_KEY]
        )
        triples = bucketed.dropDuplicates(TRIPLE_KEY).select(*TRIPLE_KEY)
        write_partitioned(bucketed, output_path)
        wall = time.time() - t0
        if checkpoint is not None:
            # lineage rows from this wave's committed bucket files: every
            # pending bucket with docs was just rewritten, and aggregating
            # ``bucketed`` again would re-run the whole triple plan
            wave = set(range(n_buckets)) - set(done)
            if bucket_filter is not None:
                wave &= set(bucket_filter)
            committed = (
                spark.read.schema(bucketed.schema).parquet(output_path)
                .where(F.col("bucket").isin(sorted(wave)))
            )
            lineage_rows = checkpoint.record(
                committed, run_id=uuid.uuid4().hex, wall_sec=wall, doc_col="src_doc"
            )
    else:
        # no write → no idempotent-partition contract to honor: one global
        # dedup instead of the bucket-keyed + global pair (a full shuffle
        # of the triple relation saved)
        triples = attributed.dropDuplicates(TRIPLE_KEY).select(*TRIPLE_KEY)
    stats = predicate_stats(triples)

    _exec_hooks(spark, after_hooks)

    if reporter is not None:
        reporter.stop()
    return PipelineResult(
        triples=triples, canonical=canon, stats=stats,
        lineage=lineage_rows,
        progress=reporter.rows if reporter is not None else [],
        _cached=[corpus, spans, linked, canon],
    )
