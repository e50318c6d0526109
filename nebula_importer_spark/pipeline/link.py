"""Link stage: mentions → entity IDs (broadcast alias dict + LSH blocking).

Two channels, per the north rule:

* **exact**: broadcast hash join against the alias dictionary — the dict is
  small (≤ millions of rows) relative to the mention stream, so it ships to
  every executor and the join is shuffle-free on the big side.
* **fuzzy**: unresolved mentions are blocked against entity surface forms
  with MinHash-LSH over character shingles (bounded candidate sets instead
  of an O(mentions × entities) cross join), then scored with exact Jaccard
  and accepted above ``threshold``, best-candidate-wins.

The scoring join is built-in-function only; no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nebula_importer_spark.operators.dedup import band_digest, minhash_value


def _char_shingles(col: F.Column, n: int = 3) -> F.Column:
    """Distinct character n-grams of a (short) surface form, column-native."""
    padded = F.concat(F.lit("^"), F.lower(col), F.lit("$"))
    count = F.greatest(F.length(padded) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), count), lambda i: F.substring(padded, i, F.lit(n))
        )
    )


def _minhash_bands(sh: F.Column, k: int = 8, rows: int = 1) -> F.Column:
    """Array of band digests from md5-minhash over a shingle array.

    rows=1 (any-minhash-agrees) favors recall: surface forms are short, so
    even close typo variants share few shingles; the exact-Jaccard scoring
    pass downstream restores precision.
    """
    mins = [F.array_min(F.transform(sh, lambda s: minhash_value(i, s))) for i in range(k)]
    return F.array(
        *[band_digest(mins[b * rows : (b + 1) * rows]) for b in range(k // rows)]
    )


def link_mentions(
    mentions: DataFrame,
    aliases: DataFrame,
    threshold: float = 0.5,
    term_col: str = "term",
    skip_fuzzy: bool = False,
) -> DataFrame:
    """Resolve mention terms to entities.

    ``aliases`` is (term, entity). Returns the mention rows plus
    (entity, link_channel, link_score). Unmatched mentions are dropped
    (precision-first, per the P/R≥0.95 gate). Pass ``skip_fuzzy=True`` when
    the caller knows the dictionary covers every possible mention term
    (e.g. gazetteer ⊆ alias keys) — saves the probe job and the fuzzy plan.
    """
    exact = mentions.join(F.broadcast(aliases), term_col).withColumns(
        {
            "link_channel": F.lit("exact"),
            "link_score": F.lit(1.0),
        }
    )
    if skip_fuzzy:
        return exact

    unresolved = mentions.join(
        F.broadcast(aliases.select(term_col)), term_col, "left_anti"
    )
    # short-circuit: high-coverage dictionaries usually resolve everything;
    # skip the fuzzy channel's ~6 shuffle stages when nothing is unresolved
    if unresolved.limit(1).count() == 0:
        return exact
    # fuzzy: LSH blocking between unresolved terms and alias surface forms
    m_sh = unresolved.select(term_col).dropDuplicates().withColumn(
        "m_sh", _char_shingles(F.col(term_col))
    ).withColumn("band", F.explode(_minhash_bands(F.col("m_sh"))))
    a_sh = aliases.withColumnRenamed(term_col, "alias_term").withColumn(
        "a_sh", _char_shingles(F.col("alias_term"))
    ).withColumn("band", F.explode(_minhash_bands(F.col("a_sh"))))

    inter = F.size(F.array_intersect(F.col("m_sh"), F.col("a_sh")))
    union = F.size(F.array_union(F.col("m_sh"), F.col("a_sh")))
    cand = (
        m_sh.join(F.broadcast(a_sh), "band")
        .dropDuplicates([term_col, "alias_term"])
        .withColumn("link_score", inter / union)
        .where(F.col("link_score") >= F.lit(threshold))
    )
    best = Window.partitionBy(term_col).orderBy(
        F.col("link_score").desc(), F.col("alias_term").asc()
    )
    resolved_fuzzy = (
        cand.withColumn("rk", F.row_number().over(best))
        .where(F.col("rk") == 1)
        .select(term_col, "entity", "link_score")
    )
    fuzzy = unresolved.join(resolved_fuzzy, term_col).withColumn(
        "link_channel", F.lit("fuzzy")
    )

    return exact.unionByName(fuzzy.select(*exact.columns))
