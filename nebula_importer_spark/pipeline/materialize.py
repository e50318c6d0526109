"""Materialize stage: predicate statistics over the deduplicated triples.

The triple dedup itself (the DataFrame analog of the reference's
server-side dedup flags, ``IGNORE_EXISTED_INDEX`` / ``IF NOT EXISTS``,
``pkg/spec/v3/node.go:98-105``) is one ``dropDuplicates`` on
(subj, pred, obj) in :func:`nebula_importer_spark.pipeline.run.run_pipeline`.

Skew: rdf:type-like predicates concentrate on few objects; predicate-level
statistics use salted two-phase aggregation (explicit salt column → partial
→ final) so one hot key spreads over many reducers. AQE's skew handling
covers joins; hot-key *aggregation* needs this explicit treatment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def predicate_stats(
    triples: DataFrame, salt_buckets: int = 16, subj_col: str = "subj"
) -> DataFrame:
    """(pred, n_triples, n_subjects) via salted two-phase aggregation.

    Phase 1: groupBy(pred, salt) — a hot predicate spreads over
    ``salt_buckets`` reducers. Phase 2: merge partials per pred (tiny).
    ``n_subjects`` uses HLL sketches (approx) because exact distinct under a
    salt split would need a second full shuffle of subjects.
    """
    salted = triples.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(subj_col)), F.lit(salt_buckets))
    )
    partial = salted.groupBy("pred", "salt").agg(
        F.count("*").alias("pn"),
        F.approx_count_distinct(subj_col).alias("ps"),
    )
    return partial.groupBy("pred").agg(
        F.sum("pn").alias("n_triples"),
        F.sum("ps").alias("n_subjects_approx"),
    )
