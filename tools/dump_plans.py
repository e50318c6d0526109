"""Generate PLANS.md: formatted physical plans for key queries + commentary.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COMMENTARY = {
    "map_vertex_insert": (
        "Mapping core is a narrow projection: one `Scan parquet` with "
        "ReadSchema pruned to exactly the 5 consumed columns, two Projects "
        "rendering every literal JVM-side, one Generate (explode) over "
        "(subj, pred, obj) structs: the head triple `tag:Customer` and one "
        "triple per prop, each naming its subject (the same body emits edge "
        "triples, whose head subject differs from the prop triples' key). "
        "The lower Project picks each value; the upper "
        "one quotes them (the inlined SQL function `nis_go_quote`). The "
        "quote's escape branch is a `transform` lambda, which has no "
        "generated code, so that Project runs outside whole-stage codegen; "
        "an RLIKE guard keeps the per-character work off every value that "
        "needs no `\\x`, `\\u` or `\\U` escape (such values take a replace "
        "chain). No Python evaluation node and no shuffle of its own."
    ),
    "map_vertex_filter": (
        "The reference's expr-lang filter compiles to a Catalyst boolean "
        "evaluated in the same codegen stage as the scan (the null-coalescing "
        "required by the `[]string` record contract keeps it out of the "
        "parquet PushedFilters, a documented tradeoff — row-group skipping "
        "is lost, the columnar-batch filter remains)."
    ),
    "kg_link_alias": (
        "Mentions come out of the extract's `MapInPandas` (Arrow batches, "
        "no explode) and the alias dictionary joins as `BroadcastHashJoin "
        "BuildRight` — the mention stream (big side) never shuffles for the "
        "join. The aggregations show partial→Exchange→final HashAggregate "
        "pairs (map-side combine)."
    ),
    "kg_skew_twophase": (
        "Hot-predicate counting: phase-1 `HashAggregate` keyed by "
        "(pred, salt) spreads one hot key over 16 reducers before the tiny "
        "phase-2 merge — the explicit skew treatment AQE cannot apply to "
        "aggregations."
    ),
    "dedup_minhash_lsh": (
        "LSH near-dup: one shuffle builds each doc's signature (12 "
        "partial `min` aggregates, map-side combined) and carries its "
        "shingle set (`collect_set`); the relation is cut once, so every "
        "`Scan ExistingRDD` below reads that one computed signature "
        "relation and the text is scanned once. The band self-join is "
        "bucket-local: both sides are exchanged on (band, digest), and at "
        "this scale the planner broadcasts one of them. Exact-Jaccard "
        "verification joins the carried sets to the deduped candidate "
        "pairs by id — candidate-proportional, never O(n²)."
    ),
    "ann_cosine_topk": (
        "Brute-force cosine: probes broadcast (`BroadcastNestedLoopJoin`/"
        "`BroadcastHashJoin` depending on the predicate), dot products run "
        "as codegen'd higher-order functions, ranking is one window per "
        "probe partition."
    ),
    "cluster_kmeans": (
        "Integer k-means assignment: the centroid set folds into ONE "
        "single-row array that broadcast-cross-joins onto the corpus "
        "(`BroadcastNestedLoopJoin` with a 1-row build side), and the "
        "argmin is an `array_min` projection — the corpus reaches its "
        "cluster id with NO exchange keyed on the vector id. The one "
        "shuffle per refinement is the (cluster, dim) partial-sum "
        "aggregation: k×dims groups, map-side combined."
    ),
    "text_topk_ngrams": (
        "Corpus top-k n-grams: explode → `HashAggregate` partial/final "
        "pair (a hot n-gram ships one partial row per task), then "
        "`TakeOrderedAndProject` — each partition keeps its local k and "
        "the driver merges k×partitions rows. No global sort anywhere."
    ),
    "map_apply_upsert": (
        "Semantic MERGE (UPSERT): the batch collapses to one row per key "
        "via map-side-combinable `max_by` partials (`HashAggregate` "
        "partial→Exchange→final), then ONE key join against the table. "
        "UPSERT is a full-outer join — not broadcastable by definition in "
        "Spark, so both sides exchange on the key; UPDATE/DELETE applies "
        "broadcast the small batch (AQE, asserted in "
        "tests/test_merge.py::test_apply_join_broadcasts_small_batch). No "
        "windows (a per-key window would sort the table), no driver state."
    ),
    "map_apply_delete": (
        "Semantic DELETE: distinct batch keys anti-join the table "
        "(`LeftAnti`). The batch is the small side — AQE broadcasts it at "
        "runtime size, so the table never shuffles for the delete."
    ),
    "dedup_embedding_lsh": (
        "Multiprobe sign-sketch near-dup, single-exchange form (r5): the "
        "banded keys + their single-bit flips are posexploded BELOW one "
        "`repartition(band, key)` and the relation is materialized, so the "
        "plan shows both self-join sides as `Scan ExistingRDD` over the "
        "SAME computed relation — the (interpreted, dominant-cost) sketch "
        "pass ran once and the candidate stream shuffled once at (bits+1)× "
        "tiny rows, vs the r4 chain of two exchanges. Hyperplane weights "
        "are literal arrays (driver-precomputed md5, bit-identical), and "
        "the verify join reads per-vector norms computed once in the "
        "projection, not per candidate pair."
    ),
    "kg_canonicalize_cc": (
        "Canonicalization has one entry point, `canonical_mapping(ids, "
        "pairs)`, and picks its path from the pair count. It collects "
        "`pairs.limit(DRIVER_CC_CAP + 1)` through Arrow. This query's pair "
        "list is far below the cap, so union-find on the driver labels "
        "each component by its minimum id, and the labels come back as the "
        "`LocalTableScan` broadcast into the left join against the doc ids: "
        "no label-propagation round is left in the plan. Above the cap the "
        "labels come from large/small-star (O(log² n) rounds, each "
        "lineage-cut through `materialize()`, reliable `checkpoint()` iff a "
        "checkpoint dir is configured), and a `Scan ExistingRDD` takes the "
        "`LocalTableScan`'s place.\n\n"
        "The cap, measured with `canonical_mapping` on dedup-shaped pairs "
        "(components of 2-4 docs, 12-character string ids), local[4], 8 "
        "shuffle partitions, input read from parquet, output written to the "
        "`noop` sink; time of the second run in one session (first run in "
        "brackets); peak RSS of the Python driver process "
        "(`resource.getrusage`). `DRIVER_CC_CAP` is the largest size at "
        "which the driver wins and stays under 1 GB: 10^6.\n\n"
        "| pairs | driver | driver RSS | star | star RSS |\n"
        "|---|---|---|---|---|\n"
        "| 10^5 | 2.3 s (7.0) | 0.20 GB | 56.9 s (75.7) | 0.14 GB |\n"
        "| 10^6 | 11.4 s (16.1) | 0.51 GB | 133 s (158) | 0.14 GB |\n"
        "| 3×10^6 | 30.0 s (39.9) | 1.07 GB | 298 s (313) | 0.14 GB |"
    ),
}


def main() -> None:
    from nebula_importer_spark.contract import QUERIES
    from nebula_importer_spark.session import get_spark

    spark = get_spark(app_name="plan-dump", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical plans of key queries (`.explain(\"formatted\")`)\n",
        "Generated by `tools/dump_plans.py` at sf0.01. What to look for per",
        "plan is noted above each; the goal is scan pruning, broadcast where",
        "a side is small, partial aggregation before every exchange, and",
        "whole-stage codegen everywhere in the row path.\n",
    ]
    for name, note in COMMENTARY.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        # control-character literals (the quote's replace chain) print raw:
        # escape them so each plan line stays one line; no plan line starts
        # with ", ", so a newline before one is a literal's
        plan = buf.getvalue().replace("\n, ", "\\n, ").translate(
            {7: "\\a", 8: "\\b", 9: "\\t", 11: "\\v", 12: "\\f", 13: "\\r"}
        )
        # keep the operator tree + scan details; drop verbose per-node dumps
        tree, _, details = plan.partition("\n\n")
        keep_details = "\n".join(
            line for line in details.splitlines()
            if line.startswith(("(1)", "Output", "ReadSchema", "PushedFilters", "Location"))
        )
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n{keep_details}\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
