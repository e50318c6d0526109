"""Pipeline stage tests: extract, link, canonicalize, lineage/resume,
multimodal plumbing, and the end-to-end run."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from nebula_importer_spark.fixtures import (
    KNOWS_CSV_LINES,
    PERSON_CSV_LINES,
    knows_rank_spec,
    person_spec,
)
from nebula_importer_spark.pipeline.canonicalize import (
    _driver_labels,
    canonical_mapping,
    connected_components_star,
)
from nebula_importer_spark.pipeline.corpus import explode_spans, interleave_documents, synthetic_corpus
from nebula_importer_spark.pipeline.extract import doc_mentions, extract_mentions
from nebula_importer_spark.pipeline.lineage import Checkpoint, with_bucket, write_partitioned
from nebula_importer_spark.pipeline.link import link_mentions
from nebula_importer_spark.pipeline.multimodal import decode_media, media_table
from nebula_importer_spark.pipeline.run import run_pipeline


def _corpus(spark):
    flat = spark.createDataFrame(
        [
            ("d1", "spark writes parquet while trino reads iceberg"),
            ("d2", "kafka streams feed spark and flink jobs"),
            ("d3", "nothing relevant here at all today friends"),
        ],
        "doc_id string, text string",
    )
    return interleave_documents(flat, chunk_words=3)


def test_extract_mentions_gazetteer(spark):
    gaz = {"spark", "kafka", "iceberg"}
    spans = explode_spans(_corpus(spark))
    m = doc_mentions(extract_mentions(spans, sorted(gaz)))
    got = {(r.doc_id, r.term): r.n for r in m.collect()}
    # expected: gazetteer hits in text/table_row spans only (media spans'
    # payload text is not prose and is not scanned)
    want: dict[tuple[str, str], int] = {}
    for s in spans.where("kind in ('text', 'table_row')").collect():
        for tok in s.text.split():
            if tok in gaz:
                k = (s.doc_id, tok)
                want[k] = want.get(k, 0) + 1
    assert got == want and len(want) >= 2


def test_extract_mentions_pattern_channel(spark):
    spans = explode_spans(_corpus(spark))
    m = extract_mentions(spans, [], pattern=r"par\w+")
    rows = {(r.doc_id, r.term, r.channel) for r in m.collect()}
    assert ("d1", "parquet", "pattern") in rows


def test_link_mentions_exact_and_fuzzy(spark):
    mentions = spark.createDataFrame(
        [("d1", "spark", 2), ("d1", "sparkk", 1), ("d2", "zzz", 1)],
        "doc_id string, term string, n long",
    )
    aliases = spark.createDataFrame(
        [("spark", "product::spark")], "term string, entity string"
    )
    got = link_mentions(mentions, aliases, threshold=0.3).collect()
    by_term = {r.term: r for r in got}
    assert by_term["spark"].link_channel == "exact"
    assert by_term["spark"].entity == "product::spark"
    assert by_term["sparkk"].link_channel == "fuzzy"  # typo links via LSH
    assert by_term["sparkk"].entity == "product::spark"
    assert "zzz" not in by_term  # precision-first: unmatched dropped


def test_connected_components_chain_and_isolated(spark):
    """Both paths label a chain and a separate edge by their minimum ids."""
    edges = [(1, 2), (2, 3), (7, 8)]
    want = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert _driver_labels(edges) == want
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = {r.id: r.component for r in connected_components_star(pairs).collect()}
    assert comp == want


def test_canonical_mapping_includes_isolated(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    for edges, want in (
        ([(2, 4)], {1: 1, 2: 2, 3: 3, 4: 2, 5: 5}),
        ([], {i: i for i in range(1, 6)}),  # no pairs: every id is its own
    ):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.doc_id: r.canonical_id for r in canonical_mapping(ids, pairs).collect()}
        assert got == want


def test_canonical_mapping_auto_picks_algorithm(spark, monkeypatch):
    """The pair count picks the path: the driver at or below DRIVER_CC_CAP,
    star above it — and a chain above the cap converges on star."""
    import nebula_importer_spark.pipeline.canonicalize as cz

    calls: list[str] = []
    orig_driver, orig_star = cz._driver_labels, cz.connected_components_star
    monkeypatch.setattr(
        cz, "_driver_labels",
        lambda *a: (calls.append("driver"), orig_driver(*a))[1],
    )
    monkeypatch.setattr(
        cz, "connected_components_star",
        lambda *a: (calls.append("star"), orig_star(*a))[1],
    )
    monkeypatch.setattr(cz, "DRIVER_CC_CAP", 5)

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (3, 4)], "id_a long, id_b long")
    got = {r.doc_id: r.canonical_id for r in cz.canonical_mapping(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 5}
    assert calls == ["driver"]

    calls.clear()
    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.canonical_id for r in cz.canonical_mapping(ids, chain).collect()}
    assert got == {i: 0 for i in range(n + 1)}
    assert calls == ["star"]


def test_canonical_mapping_small_graph_runs_few_jobs(spark):
    """Below the cap the labels cost one collect of the pairs, not a job per
    label-propagation round."""
    sc = spark.sparkContext
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 3)], "id_a long, id_b long"
    )
    group = "test-canonical-mapping-jobs"
    sc.setJobGroup(group, group)
    try:
        assert len(canonical_mapping(ids, pairs).collect()) == 40
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_multimodal_plumbing(spark):
    spans = explode_spans(_corpus(spark))
    media = media_table(spans)
    rows = media.collect()
    assert rows and all(r.kind in ("image", "audio", "table_row") for r in rows)
    feats = decode_media(media, fake=True).collect()
    assert len(feats) == len(rows)
    assert all(len(r.features) == 16 for r in feats)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_media(media, fake=False).collect()


def test_lineage_resume_idempotent(spark, tmp_path):
    """Wave-then-kill-then-resume converges to the uninterrupted result."""
    corpus = synthetic_corpus(spark, 60, seed=9, partitions=4)
    ckpt = Checkpoint(str(tmp_path / "ckpt"))
    out = str(tmp_path / "out")
    n_buckets = 8

    # wave 1: full corpus, but only buckets {0,1} materialized + recorded
    run_pipeline(
        spark, corpus, checkpoint=ckpt, output_path=out,
        n_buckets=n_buckets, bucket_filter=[0, 1],
    )
    done = set(ckpt.completed_buckets(spark))
    assert done == {0, 1}

    # resumed run: skips completed buckets, completes the rest
    run_pipeline(spark, corpus, checkpoint=ckpt, output_path=out, n_buckets=n_buckets)
    assert set(ckpt.completed_buckets(spark)) == set(range(n_buckets))

    # compare with an uninterrupted single run
    clean_out = str(tmp_path / "clean")
    run_pipeline(spark, corpus, output_path=clean_out, n_buckets=n_buckets)
    resumed = spark.read.parquet(out).select("subj", "pred", "obj", "bucket")
    clean = spark.read.parquet(clean_out).select("subj", "pred", "obj", "bucket")
    assert resumed.exceptAll(clean).count() == 0
    assert clean.exceptAll(resumed).count() == 0

    # re-running with everything complete is a no-op wave (still idempotent)
    run_pipeline(spark, corpus, checkpoint=ckpt, output_path=out, n_buckets=n_buckets)
    again = spark.read.parquet(out).select("subj", "pred", "obj", "bucket")
    assert again.exceptAll(clean).count() == 0


def test_lineage_rows_come_from_committed_files(spark, tmp_path):
    """Recording a wave reads its committed bucket files: the checkpoint
    adds the lineage probe and the lineage write, not a second run of the
    triple plan, and its rows count what the wave wrote."""
    # a corpus no other test runs: an equal plan cached by an earlier
    # pipeline would serve one of the two runs and skew the comparison
    corpus = synthetic_corpus(spark, 60, seed=13, partitions=4)
    sc = spark.sparkContext

    def jobs(name, **kwargs):
        group = f"test-lineage-{name}"
        sc.setJobGroup(group, group)
        try:
            run_pipeline(
                spark, corpus, output_path=str(tmp_path / name), n_buckets=8, **kwargs
            ).unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs("plain")
    ckpt = Checkpoint(str(tmp_path / "ckpt"))
    recorded = jobs("recorded", checkpoint=ckpt)
    assert recorded - plain <= 3
    out = spark.read.parquet(str(tmp_path / "recorded"))
    want = {
        (r.bucket, r.n_docs, r.n_triples)
        for r in out.groupBy("bucket")
        .agg(F.countDistinct("src_doc").alias("n_docs"), F.count("*").alias("n_triples"))
        .collect()
    }
    got = spark.read.parquet(ckpt.lineage_path).collect()
    assert {(r.bucket, r.n_docs, r.n_triples) for r in got} == want
    assert sum(r.n_docs for r in got) == 60


def test_completed_buckets_missing_table_is_empty_corrupt_raises(spark, tmp_path):
    """No lineage table means a first run; an unreadable one is an error,
    not "nothing done" (which would reprocess every bucket)."""
    ckpt = Checkpoint(str(tmp_path / "ckpt"))
    assert ckpt.completed_buckets(spark) == []
    os.makedirs(ckpt.lineage_path)
    with open(os.path.join(ckpt.lineage_path, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="parquet|Parquet"):
        ckpt.completed_buckets(spark)


def test_write_partitioned_replaces_only_written_buckets(spark, tmp_path):
    """Dynamic overwrite per write: the session's overwrite mode is not
    touched, and buckets absent from a write keep their files."""
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf_key)
    out = str(tmp_path / "out")
    write_partitioned(spark.createDataFrame([(0, "a"), (1, "b")], "bucket int, v string"), out)
    write_partitioned(spark.createDataFrame([(1, "c")], "bucket int, v string"), out)
    assert spark.conf.get(conf_key) == before
    got = sorted((r.bucket, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(0, "a"), (1, "c")]


def test_run_pipeline_end_to_end_with_fixture_replay(spark):
    corpus = synthetic_corpus(
        spark, 40, seed=42, fixture_rows=list(PERSON_CSV_LINES[:3]), partitions=4
    )
    result = run_pipeline(spark, corpus, fixture_node_specs=[person_spec()])
    preds = {r.pred for r in result.triples.select("pred").dropDuplicates().collect()}
    assert "tag:Document" in preds
    assert "mentions" in preds
    assert "tag:Person" in preds            # fixture replay through mapping core
    assert "Person.firstName" in preds
    # golden value check: Mahinda row renders exactly like the reference
    rows = {
        (r.subj, r.pred): r.obj
        for r in result.triples.where(F.col("subj") == '"933"').collect()
    }
    assert rows[('"933"', "Person.firstName")] == '"Mahinda"'
    assert rows[('"933"', "Person.birthday")] == 'DATE("1989-12-03")'
    stats = {r.pred: r.n_triples for r in result.stats.collect()}
    assert stats["tag:Document"] == 40


def test_run_pipeline_replays_ranked_edge_fixture(spark):
    """An edge spec replays through the document pathway like a tag spec:
    the KNOWS rows embedded as table_row spans give the reference's ranked
    edge triples (test_fixture_parity's goldens)."""
    corpus = synthetic_corpus(
        spark, 40, seed=42, fixture_rows=list(KNOWS_CSV_LINES), partitions=4
    )
    result = run_pipeline(
        spark, corpus, fixture_edge_specs=[knows_rank_spec()], fixture_delimiter=","
    )
    embedded = {
        s.text
        for r in corpus.select("spans").collect()
        for s in r.spans
        if s.media_ref.startswith("fixture://")
    }
    assert embedded == set(KNOWS_CSV_LINES)
    want = set()
    for line in KNOWS_CSV_LINES:
        src, dst, created = line.split(",")
        s, d = f'"person_{src}_id"', f'"person_{dst}_id"'
        want.add((s, f"KNOWS@{src}", d))
        want.add((f"{s}->{d}@{src}", "KNOWS.creationDate", f'DATETIME("{created}")'))
    got = {
        (r.subj, r.pred, r.obj)
        for r in result.triples.where(F.col("pred").startswith("KNOWS")).collect()
    }
    result.unpersist()
    assert ('"person_933_id"', "KNOWS@933", '"person_2199023256684_id"') in got
    assert got == want


def test_star_cc_matches_min_label_on_random_graphs(spark, monkeypatch):
    """The driver path (union-find, component minimum as root) and the star
    path return the same mapping on seeded random graphs with reversed and
    duplicate pairs. String ids include non-ASCII ones whose code-point
    order differs from UTF-16 order: Python's str order and Spark's UTF-8
    byte order must agree on every component minimum."""
    import random

    import nebula_importer_spark.pipeline.canonicalize as cz

    # the fixed pairs are components of their own, so each minimum is
    # decided by that one comparison; UTF-16 order would pick "\U00010000"
    names = ["a", "b", "~", "0", "\ud7ff", "b\u00e9", "\u00f6", "\u4e2d"]
    fixed = [("\U00010000", "\uffff"), ("\u00e9", "z")]
    for seed, kind in ((1, "long"), (2, "long"), (3, "string")):
        rnd = random.Random(seed)
        verts = list(range(60)) if kind == "long" else names
        edges = [(rnd.choice(verts), rnd.choice(verts)) for _ in range(len(verts) * 2 // 3)]
        edges = [(a, b) for a, b in edges if a != b]
        edges += [(b, a) for a, b in edges[:5]] + edges[:3]
        if kind == "string":
            verts = verts + [v for pair in fixed for v in pair]
            edges += fixed
        ids = spark.createDataFrame([(v,) for v in verts], f"doc_id {kind}")
        pairs = spark.createDataFrame(edges, f"id_a {kind}, id_b {kind}")
        driver = {r.doc_id: r.canonical_id for r in canonical_mapping(ids, pairs).collect()}
        with monkeypatch.context() as m:
            m.setattr(cz, "DRIVER_CC_CAP", 0)
            star = {r.doc_id: r.canonical_id for r in canonical_mapping(ids, pairs).collect()}
        assert driver == star, f"seed={seed}"
        if kind == "string":
            assert star["\U00010000"] == "\uffff" and star["z"] == "z"


def test_star_cc_long_chain(spark):
    """A path graph (the highest-diameter shape) still resolves to one min."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    comp = {r.id: r.component for r in connected_components_star(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 31
