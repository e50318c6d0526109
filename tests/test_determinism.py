"""Parallelism/partitioning determinism of the pipeline + CC convergence.

The north rule's resume contract ("any schedule of waves/kills/retries
converges to the same table") requires pipeline output to be a pure function
of its input — independent of how the input is partitioned. Round-1 bench
data showed a cross-parallelism triple-count mismatch (VERDICT.md "What's
wrong" #2); cross-PROCESS evidence at local[2] vs local[8] lives in
``tools/check_determinism.py`` (run at 50k and 400k docs: byte-identical).
This in-suite test covers the in-session half: same corpus, two different
partitionings, identical triples/canonical sets.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nebula_importer_spark.fixtures import PERSON_CSV_LINES, person_spec
import nebula_importer_spark.pipeline.canonicalize as cz
from nebula_importer_spark.pipeline.canonicalize import connected_components_star
from nebula_importer_spark.pipeline.corpus import synthetic_corpus
from nebula_importer_spark.pipeline.run import run_pipeline


def _same(a, b) -> bool:
    return a.exceptAll(b).limit(1).count() == 0 and b.exceptAll(a).limit(1).count() == 0


def test_pipeline_partitioning_invariance(spark, tmp_path):
    path = str(tmp_path / "corpus")
    synthetic_corpus(
        spark, 2000, seed=7, fixture_rows=PERSON_CSV_LINES
    ).write.mode("overwrite").parquet(path)
    base = spark.read.parquet(path)

    a = run_pipeline(spark, base.repartition(3), fixture_node_specs=[person_spec()])
    b = run_pipeline(
        spark,
        base.repartition(17, F.col("doc_id")),
        fixture_node_specs=[person_spec()],
    )
    assert _same(a.triples, b.triples)
    assert _same(a.canonical, b.canonical)
    assert _same(a.stats, b.stats)


def test_cc_raises_when_diameter_exceeds_cap(spark, monkeypatch):
    # path graph 0-1-2-…-10: star needs several rounds to reach its fixpoint
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    monkeypatch.setattr(cz, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
        connected_components_star(pairs).collect()


def test_cc_star_converges_on_path_graph(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    labels = connected_components_star(pairs)
    assert {r.component for r in labels.collect()} == {0}
