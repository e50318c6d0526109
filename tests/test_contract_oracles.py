"""In-suite oracle parity: a fast subset of the driver's correctness gate.

Runs representative contract queries on Spark at sf0.001 and compares row
sets against their DuckDB oracle SQL — the same comparison the driver does
at sf0.01 (tools/check_contract.py runs the full set).
"""

from __future__ import annotations

import duckdb
import pytest

from nebula_importer_spark.contract import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SUBSET = [
    "map_vertex_insert",
    "map_vertex_filter",
    "map_edge_rank",
    "map_type_conversions",
    "map_statements_vertex",
    "map_alternative_indices",
    "text_quality",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "ann_lsh_topk",
    "kg_extract_mentions",
    "kg_extract_pattern",
    "kg_link_alias",
    "kg_triples_docs",
    "kg_skew_twophase",
    "kg_canonicalize_lsh",
    "kg_pagerank",
    "text_topk_ngrams",
    "cluster_kmeans",
    "stream_sessions",
    "spans_roundtrip",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v: object) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, oracle_con, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    srows = sorted(
        tuple(_norm(r[i]) for i in sorder) for r in sdf.collect()
    )
    rel = oracle_con.sql(ORACLES[name])
    ocols = [c.lower() for c in rel.columns]
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = sorted(
        tuple(_norm(r[i]) for i in oorder) for r in rel.fetchall()
    )
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert srows == orows


def test_every_query_has_matching_oracle_keys():
    assert set(ORACLES) <= set(QUERIES)
    # every contract query is oracle-checked — the deterministic md5-derived
    # sketches make even the approximate/stand-in operators replicable in SQL
    assert set(QUERIES) == set(ORACLES)
