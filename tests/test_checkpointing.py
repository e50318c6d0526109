"""The reliable-checkpoint branch of ``operators.checkpointing.materialize``.

Every lineage cut in the package routes through ``materialize``; with a
checkpoint directory configured (``sc.setCheckpointDir`` — the cluster-run
knob) it switches from executor-local ``localCheckpoint`` to the reliable
``DataFrame.checkpoint()`` that survives executor loss. VERDICT r4
("What's missing" #4) flagged this branch as untested: these tests run the
iterative operators under a configured checkpoint dir and assert (a) results
are identical to the local-checkpoint run and (b) checkpoint files actually
landed on disk.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture()
def checkpoint_dir(spark, tmp_path):
    """Configure a checkpoint dir for the test, restore 'unset' after.

    SparkContext has no public unset; tests share one session, so leaving
    the dir configured would silently flip every later test to the reliable
    branch. The scala Option is reset through py4j.
    """
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "expected no checkpoint dir at entry"
    d = str(tmp_path / "ckpt")
    sc.setCheckpointDir(d)
    yield d
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def _ckpt_files(d: str) -> list:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(d)
        for f in files
        if not f.startswith(".")
    ]


def test_materialize_uses_reliable_checkpoint_when_dir_set(spark, checkpoint_dir):
    from nebula_importer_spark.operators.checkpointing import materialize

    df = spark.range(0, 100).withColumnRenamed("id", "x")
    out = materialize(df)
    assert out.count() == 100
    files = _ckpt_files(checkpoint_dir)
    assert files, "reliable checkpoint wrote no files"


def test_multiprobe_lsh_leaves_no_checkpoint_files(spark, checkpoint_dir):
    """The multiprobe LSH cut and MinHash LSH's signature cut live inside one
    query: they stay executor-local under a checkpoint dir instead of leaving
    reliable files per call."""
    from nebula_importer_spark.operators.dedup import minhash_lsh_pairs
    from nebula_importer_spark.operators.similarity import embedding_lsh_pairs

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_lsh_pairs(vecs, threshold=0.9, dim=2)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(0, 1)]
    assert _ckpt_files(checkpoint_dir) == []

    text = "the quick brown fox jumps over the lazy dog by the river bank"
    docs = spark.createDataFrame(
        [(0, text), (1, text + "!"), (2, "an entirely different sentence here")],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(0, 1)]
    assert _ckpt_files(checkpoint_dir) == []


def test_canonicalize_and_pagerank_identical_under_reliable_checkpoint(
    spark, tmp_path, monkeypatch
):
    """canonical_mapping (star path) + pagerank: same results with and
    without the checkpoint dir, and the reliable run leaves checkpoint files
    on disk."""
    import nebula_importer_spark.pipeline.canonicalize as cz
    from nebula_importer_spark.operators.graph import pagerank
    from nebula_importer_spark.pipeline.canonicalize import canonical_mapping

    monkeypatch.setattr(cz, "DRIVER_CC_CAP", 0)  # force the star path
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")

    def run():
        cm = sorted(
            (r.doc_id, r.canonical_id)
            for r in canonical_mapping(ids, pairs).collect()
        )
        pr = sorted(
            (r.id, r.rank_mu)
            for r in pagerank(pairs.toDF("src", "dst"), iterations=3).collect()
        )
        return cm, pr

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local_cm, local_pr = run()

    d = str(tmp_path / "ckpt2")
    sc.setCheckpointDir(d)
    try:
        reliable_cm, reliable_pr = run()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())

    assert reliable_cm == local_cm
    assert reliable_pr == local_pr
    assert _ckpt_files(d), "iterative run under a checkpoint dir wrote no files"
