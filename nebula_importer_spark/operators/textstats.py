"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (marker-token heuristic), quality scoring, token counting
(whitespace + regex tokenizer), and top-k n-grams. All of these
are pure built-in-function column programs — JVM-side, whole-stage-codegen,
zero Python in the row path — so they pipeline with the parquet scan and
scale linearly with input splits (no shuffle at all except where noted).

The reference importer has no text analytics (it is a row→graph mapper);
these operators extend the engine for the corpus-preparation workloads the
documents table models.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_importer_spark.operators.dedup import normalized_text

# Deterministic marker lexicons for the language-ID heuristic. Real systems
# use char n-gram profiles; the *shape* (per-language token scoring + argmax)
# is identical and fully vectorizable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "los", "de", "que"),
    "fr": ("le", "la", "les", "et", "que"),
    "zh": ("de5", "shi4", "le5", "bu4", "zai4"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")

# "BPE-ish" regex: alphanumeric runs or single non-space symbols — the
# pre-tokenization split most BPE vocabularies start from.
TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lower-cased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    """Occurrences (with multiplicity) of any marker word in ``tokens``."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lit_words, t)))


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + regex token counts per document (no shuffle)."""
    text = F.col(text_col)
    toks = tokens_col(text)
    return df.select(
        F.col(id_col),
        F.size(toks).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)).alias("re_tokens"),
        F.length(text).alias("n_chars"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality signals: length, mean word length, stopword ratio.

    Ratios are emitted as BIGINT micro-units (``floor(x·1e6 + 0.5)``) rather
    than DECIMAL: fractional types stringify differently across engine
    boundaries (Decimal ``0.518688`` vs float ``0.5186880000000001``), so no
    non-integer numeric ever crosses the contract boundary.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    mean_wl = (n_chars - (n_tok - F.lit(1))) / n_tok
    stop_ratio = count_in(toks, STOPWORDS) / n_tok
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - stop_ratio) * F.lit(0.3)
        + F.least(mean_wl / F.lit(8.0), F.lit(1.0)) * F.lit(0.3)
    )

    def q6(c):
        # floor(x·1e6 + 0.5): rounds on the BINARY double, so any engine
        # computing the same double gets the same digits — unlike round(),
        # where Spark rounds the decimal repr and DuckDB the raw binary,
        # which disagree on exact ties like 0.5186875
        return F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")

    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        q6(mean_wl).alias("mean_word_len_micro"),
        q6(stop_ratio).alias("stopword_ratio_micro"),
        q6(score).alias("quality_score_micro"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-token language ID: argmax marker hits, ties → lexicographic lang.

    Vectorized argmax via ``array_max`` over (count, lang) structs — the
    struct comparison is lexicographic so ties break on the *smallest* lang
    code deterministically (we store negated rank to invert).
    """
    toks = tokens_col(F.col(text_col))
    scored = [
        F.struct(
            count_in(toks, words).alias("hits"),
            # ties: array_max picks the max struct; invert lang order so the
            # lexicographically-smallest language wins ties.
            F.lit(-i).alias("rank"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, words) in enumerate(sorted(LANG_MARKERS.items()))
    ]
    best = F.array_max(F.array(*scored))
    return df.select(
        F.col(id_col),
        best["lang"].alias("pred_lang"),
        best["hits"].alias("marker_hits"),
    )


def topk_ngrams(
    df: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Top-k word n-grams by corpus frequency → (ngram, n) rows.

    The LM-corpus staple (vocabulary/boilerplate inspection). Counts carry
    multiplicity — this is term frequency, unlike the dedup shingles which
    are per-doc distinct. Ordered by (count desc, ngram asc) so the top-k
    cut is deterministic under ties.

    Scale notes: the count is one map-side-combinable aggregation (hash
    partial per task — a hot n-gram contributes ONE row per task to the
    shuffle, so skew needs no salting), and the top-k compiles to
    TakeOrderedAndProject: each partition keeps its local k, the driver
    merges k × partitions tiny rows — no global sort.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    # count=0 → sequence(1,0) counts DOWN; guard to an empty array
    grams = F.when(count > 0, grams).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )
