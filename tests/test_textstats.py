"""Text-analysis operator tests."""

from __future__ import annotations

import hashlib

from nebula_importer_spark.operators.dedup import fingerprints
from nebula_importer_spark.operators.textstats import (
    lang_id,
    quality_scores,
    token_counts,
)

DOCS = [
    (1, "the quick brown fox, jumps!"),
    (2, "der hund und die katze und das haus"),
    (3, "el que la de los"),
    (4, "xyz"),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_counts(spark):
    rows = {r.doc_id: r for r in token_counts(_df(spark)).collect()}
    assert rows[1].ws_tokens == 5
    assert rows[1].re_tokens == 7  # 5 words + ',' + '!'
    assert rows[1].n_chars == len(DOCS[0][1])
    assert rows[4].ws_tokens == 1


def test_quality_scores_arithmetic(spark):
    rows = {r.doc_id: r for r in quality_scores(_df(spark)).collect()}
    r = rows[2]  # 8 tokens, the stopword list has none of them... 'und' not in it
    assert r.n_tokens == 8
    # mean word len = (n_chars - 7) / 8, in BIGINT micro-units
    n_chars = len(DOCS[1][1])
    assert r.mean_word_len_micro == int((n_chars - 7) / 8 * 1_000_000 + 0.5)
    assert 0 <= r.quality_score_micro <= 1_000_000


def test_lang_id_markers_and_tiebreak(spark):
    rows = {r.doc_id: r for r in lang_id(_df(spark)).collect()}
    assert rows[1].pred_lang == "en" and rows[1].marker_hits == 1
    assert rows[2].pred_lang == "de" and rows[2].marker_hits == 5
    assert rows[3].pred_lang == "es"  # es markers beat fr on 'el'/'los'
    assert rows[4].pred_lang == "de" and rows[4].marker_hits == 0  # all-zero tie → first lang


def test_fingerprint_is_md5_of_normalized(spark):
    df = spark.createDataFrame(
        [(1, "  Hello   World "), (2, "hello world")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.fingerprint for r in fingerprints(df).collect()}
    want = hashlib.md5(b"hello world").hexdigest()
    assert rows[1] == want and rows[2] == want


def test_topk_ngrams_counts_and_tiebreak(spark):
    from nebula_importer_spark.operators.textstats import topk_ngrams

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),   # bigrams: a b, b a, a b, b c
            (2, "a b"),          # a b
            (3, "z"),            # too short: none
            (4, ""),             # empty: none
        ],
        "doc_id long, text string",
    )
    got = [(r.ngram, r.n) for r in topk_ngrams(df, n=2, k=3).collect()]
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)]  # ties → lexicographic


def test_topk_ngrams_plan_is_take_ordered(spark):
    from nebula_importer_spark.operators.textstats import topk_ngrams

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = topk_ngrams(df)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # local top-k merge, no global sort
