"""Golden-fixture parity: replay the reference's example corpus through the
CSV source + mapping core and check the emitted mapping against the
reference's row→graph semantics (P/R ≥ 0.95 gate — exact match expected).

Fixture data/specs: nebula_importer_spark/fixtures.py (transcribed from
/root/reference/examples/basic/). Expected values below are hand-derived
from the reference's conversion semantics (pkg/picker/converter_*.go) and
spot-checked against its unit-test goldens.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nebula_importer_spark.fixtures import (
    KNOWS_CSV_LINES,
    PERSON_CSV_LINES,
    knows_rank_spec,
    knows_spec,
    person_concat_spec,
    person_spec,
)
from nebula_importer_spark.operators.mapping import edge_values, node_values
from nebula_importer_spark.operators.statements import assemble_statements
from nebula_importer_spark.operators.triples import edge_triples, node_triples
from nebula_importer_spark.sources.csv import read_records_csv


@pytest.fixture(scope="module")
def person_records(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("fx") / "person.csv"
    lines = ["# I'm comment", PERSON_CSV_LINES[0], "# another comment", *PERSON_CSV_LINES[1:]]
    p.write_text("\n".join(lines) + "\n")
    return read_records_csv(
        spark, str(p), delimiter="|", comment="#"
    )[0].persist()


@pytest.fixture(scope="module")
def knows_records(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("fx2") / "knows.csv"
    p.write_text("\n".join(KNOWS_CSV_LINES) + "\n")
    return read_records_csv(spark, str(p), delimiter=",")[0].persist()


def test_person_row_count_comments_skipped(person_records):
    assert person_records.count() == len(PERSON_CSV_LINES)


def test_person_triples_golden(spark, person_records):
    spec = person_spec()
    triples = node_triples(node_values(person_records, spec), spec)
    got = {(r.subj, r.pred): r.obj for r in triples.collect()}
    # 12 rows × (1 tag + 7 props)
    assert len(got) == 12 * 8
    assert got[('"933"', "tag:Person")] == "NULL"
    assert got[('"933"', "Person.firstName")] == '"Mahinda"'
    assert got[('"933"', "Person.creationDate")] == 'DATETIME("2010-02-14T15:32:10")'
    # gender nullable + defaultValue female: empty → "female" (Manuel row)
    assert got[('"24189255812290"', "Person.gender")] == '"female"'
    # birthday nullable with nullValue _NULL_ and NO default → literal NULL
    assert got[('"26388279066636"', "Person.birthday")] == "NULL"
    # browserUsed empty but NOT nullable → empty quoted string (Steve row)
    assert got[('"28587302322727"', "Person.browserUsed")] == '""'


def test_person_concat_filter_golden(spark, person_records):
    spec = person_concat_spec()
    triples = node_triples(node_values(person_records, spec), spec)
    subjects = {r.subj for r in triples.select("subj").dropDuplicates().collect()}
    # filter: (first == Mahinda || Michael) && gender == male → rows 933, 17592186045684
    assert subjects == {'"person_933_id"', '"person_17592186045684_id"'}


def test_knows_edge_triples_golden(spark, knows_records):
    spec = knows_spec()
    triples = edge_triples(edge_values(knows_records, spec), spec)
    got = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    assert ('"933"', "KNOWS", '"2199023256684"') in got
    assert (
        '"933"->"2199023256684"', "KNOWS.creationDate",
        'DATETIME("2010-04-22T12:30:57")',
    ) in got
    assert len(got) == 9 * 2


def test_knows_rank_concat_golden(spark, knows_records):
    spec = knows_rank_spec()
    triples = edge_triples(edge_values(knows_records, spec), spec)
    got = {(r.subj, r.pred, r.obj) for r in triples.collect()}
    assert ('"person_933_id"', "KNOWS@933", '"person_2199023256684_id"') in got


def test_person_insert_statement_text(spark, person_records):
    """Byte-exact INSERT VERTEX text in reference golden format
    (pkg/spec/v3/node_test.go shape: prefix + vid:(v, …) comma-joined)."""
    spec = person_spec()
    vals = node_values(person_records, spec)
    ordered = vals.coalesce(1).sortWithinPartitions(F.col("record")[5])  # creationDate order
    stmts = assemble_statements(ordered, spec, batch=200).collect()
    assert len(stmts) == 1 and stmts[0].n_records == 12
    s = stmts[0].statement
    assert s.startswith(
        "INSERT VERTEX IGNORE_EXISTED_INDEX `Person`(`firstName`, `lastName`, "
        "`gender`, `birthday`, `creationDate`, `locationIP`, `browserUsed`) VALUES "
    )
    assert (
        '"1129":("Carmen", "Lepland", "female", DATE("1984-02-18"), '
        'DATETIME("2010-01-28T06:39:58"), "195.20.151.175", "Internet Explorer")'
    ) in s
    # null birthday renders literal NULL inside the value tuple
    assert (
        '"26388279066636":("Jose", "Alonso", "female", NULL, '
        'DATETIME("2012-02-15T13:41:01"), "196.1.135.241", "Internet Explorer")'
    ) in s


def test_knows_insert_statement_with_rank(spark, knows_records):
    spec = knows_rank_spec()
    vals = edge_values(knows_records, spec)
    ordered = vals.coalesce(1).sortWithinPartitions(F.col("record")[2])
    stmts = assemble_statements(ordered, spec, batch=256).collect()
    assert len(stmts) == 1
    s = stmts[0].statement
    assert s.startswith(
        "INSERT EDGE IGNORE_EXISTED_INDEX `KNOWS`(`creationDate`) VALUES "
    )
    assert (
        '"person_933_id"->"person_2199023256684_id"@933:'
        '(DATETIME("2010-04-22T12:30:57"))'
    ) in s


def test_precision_recall_gate(spark, person_records, knows_records):
    """P/R vs the reference mapping on the full fixture set — both 1.0."""
    expected = set()
    for line in PERSON_CSV_LINES:
        c = line.split("|")
        vid = f'"{c[0]}"'
        expected.add((vid, "tag:Person", "NULL"))
        expected.add((vid, "Person.firstName", f'"{c[1]}"'))
        expected.add((vid, "Person.lastName", f'"{c[2]}"'))
        expected.add((vid, "Person.gender", f'"{c[3] or "female"}"'))
        expected.add(
            (vid, "Person.birthday",
             "NULL" if c[4] == "_NULL_" else f'DATE("{c[4]}")')
        )
        expected.add((vid, "Person.creationDate", f'DATETIME("{c[5]}")'))
        expected.add((vid, "Person.locationIP", f'"{c[6]}"'))
        expected.add((vid, "Person.browserUsed", f'"{c[7]}"'))
    spec = person_spec()
    got = {
        (r.subj, r.pred, r.obj)
        for r in node_triples(node_values(person_records, spec), spec).collect()
    }
    tp = len(got & expected)
    precision = tp / len(got)
    recall = tp / len(expected)
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0
