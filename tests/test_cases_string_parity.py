"""Parity replay of the reference's integration corpus (cases-string).

Reads the REAL fixture files from
``/root/reference/integration-testing/testdata/cases-string/`` (read-only)
and applies mapping specs transcribed from ``cases.string.v3.yaml``,
asserting the rendered statement content the reference importer would send
(quoted VIDs, non-ASCII, concat VIDs, rank, shuffled delimiter+header
columns, the full nullable/default/alternativeIndices matrix, date/time/
timestamp dual rendering, and geography WKT passthrough).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nebula_importer_spark.operators.mapping import edge_values, node_values
from nebula_importer_spark.operators.statements import assemble_statements
from nebula_importer_spark.plans.specs import EdgeSpec, NodeIDSpec, NodeSpec, PropSpec, RankSpec
from nebula_importer_spark.sources.csv import read_records_csv

BASE = "/root/reference/integration-testing/testdata/cases-string"


def _fragments(df, spec):
    """vid/endpoint → fragment map from rendered values."""
    vals = node_values(df, spec) if isinstance(spec, NodeSpec) else edge_values(df, spec)
    return [r.fragment for r in vals.collect()]


def test_course_tag_quoted_vids_and_unicode(spark):
    spec = NodeSpec(
        name="course",
        id=NodeIDSpec(index=0),
        props=[PropSpec("name", "string", 1), PropSpec("credits", "int", 2)],
    )
    df = read_records_csv(spark, f"{BASE}/course.csv")[0]
    frags = set(_fragments(df, spec))
    assert '"x101":("Math", 3)' in frags
    assert '"z103":("Chinese", 1)' in frags            # quoted VID unwrapped
    # printable non-ASCII kept, U+3000 escaped as strconv.Quote does
    assert '"000test":("中国（\\u3000\\u3000）", 5)' in frags
    assert len(frags) == 7


def test_course_concat_vid(spark):
    spec = NodeSpec(
        name="course",
        id=NodeIDSpec(type="string", concat_items=["c1", 0, "c2", 1, "2"]),
        props=[PropSpec("name", "string", 1), PropSpec("credits", "int", 2)],
    )
    df = read_records_csv(spark, f"{BASE}/course.csv")[0]
    frags = set(_fragments(df, spec))
    assert '"c1x101c2Math2":("Math", 3)' in frags
    assert '"c1z103c2Chinese2":("Chinese", 1)' in frags


def test_student_same_tag_reordered_props(spark):
    """G9 fan-out: one scan feeds the same tag twice with reordered props."""
    df = read_records_csv(spark, f"{BASE}/student.csv")[0].persist()
    s1 = NodeSpec(
        name="student",
        id=NodeIDSpec(concat_items=["student_", 0]),
        props=[PropSpec("name", "string", 1), PropSpec("age", "int", 2),
               PropSpec("gender", "string", 3)],
    )
    s2 = NodeSpec(
        name="student",
        id=NodeIDSpec(concat_items=["student_", 0]),
        props=[PropSpec("age", "int", 2), PropSpec("name", "string", 1),
               PropSpec("gender", "string", 3)],
    )
    f1, f2 = set(_fragments(df, s1)), set(_fragments(df, s2))
    assert '"student_x200":("Monica", 16, "female")' in f1
    assert '"student_x200":(16, "Monica", "female")' in f2


def test_follow_rank_and_noprops_and_glob(spark):
    rank_spec = EdgeSpec(
        name="follow",
        src=NodeIDSpec(index=0), dst=NodeIDSpec(index=1),
        rank=RankSpec(index=2),
        props=[PropSpec("likeness", "double", 3)],
    )
    df = read_records_csv(spark, f"{BASE}/follow.csv")[0]
    frags = set(_fragments(df, rank_spec))
    assert '"x200"->"y201"@0:(92.5)' in frags
    assert '"y201"->"z202"@2:(93.2)' in frags

    noprops = EdgeSpec(name="follow_no_props", src=NodeIDSpec(index=0), dst=NodeIDSpec(index=1))
    nf = set(_fragments(df, noprops))
    assert '"x200"->"y201":()' in nf

    gdf = read_records_csv(spark, f"{BASE}/glob-follow-*.csv")[0]
    gf = set(_fragments(gdf, rank_spec))
    assert '"y201"->"z202"@1:(96.2)' in gf and len(gf) == 4


def test_follow_delimiter_header_shuffled_columns(spark):
    spec = EdgeSpec(
        name="follow",
        src=NodeIDSpec(concat_items=["student_", 0]),
        dst=NodeIDSpec(concat_items=["student_", 2]),
        rank=RankSpec(index=3),
        props=[PropSpec("likeness", "double", 1)],
    )
    df = read_records_csv(spark, f"{BASE}/follow-delimiter.csv", delimiter="|", with_header=True)[0]
    frags = set(_fragments(df, spec))
    # withHeader skips the FIRST row (x201|…) even though it is data-shaped —
    # exactly what the reference reader does (csv.go:66-76)
    assert frags == {
        '"student_y200"->"student_x201"@1:(85.6)',
        '"student_z202"->"student_x201"@2:(93.2)',
    }


BASIC_TAG = NodeSpec(
    name="basic_type_test",
    id=NodeIDSpec(index=0),
    props=[
        PropSpec("b", "bool", 1, nullable=True),
        PropSpec("i", "int", 2, nullable=True, default_value="0"),
        PropSpec("f", "float", 3, nullable=True, alternative_indices=[2]),
        PropSpec("d", "double", 4, nullable=True, alternative_indices=[3, 2], default_value="0"),
        PropSpec("s", "string", 5, nullable=True),
    ],
)

BASIC_EDGE = EdgeSpec(
    name="edge_basic_type_test",
    src=NodeIDSpec(index=0),
    dst=NodeIDSpec(index=0),
    props=[
        PropSpec("b", "bool", 1, nullable=True),
        PropSpec("i", "int", 2, nullable=True),
        PropSpec("f", "float", 3, nullable=True, alternative_indices=[2], default_value="0"),
        PropSpec("d", "double", 4, nullable=True, alternative_indices=[3, 2]),
        PropSpec("s", "string", 5, nullable=True, null_value="__NULL__"),
    ],
)


def test_basic_type_nullable_default_alternative_matrix(spark):
    df = read_records_csv(spark, f"{BASE}/basic_type_test.csv")[0].persist()
    tag = {f.split(":")[0]: f for f in _fragments(df, BASIC_TAG)}
    assert tag['"b1"'] == '"b1":(true, -1, -2.2, -3.0, "str")'
    # b5: f/d pick ints → float render appends .0
    assert tag['"b5"'] == '"b5":(true, -3, 2.0, 3.0, "abcd efg")'
    # bnull1: all empty → b NULL, i default 0, f NULL (alt also empty),
    # d default 0 → 0.0, s NULL
    assert tag['"bnull1"'] == '"bnull1":(NULL, 0, NULL, 0.0, NULL)'
    # bnull4: i=-4, f: idx3 empty → alt idx2 (-4) → -4.0; d: idx4 empty →
    # idx3 empty → idx2 (-4) → -4.0
    assert tag['"bnull4"'] == '"bnull4":(NULL, -4, -4.0, 4.4, NULL)'
    # bnull5: f: idx3=4 → 4.0; d: idx4 empty → idx3 (4) → 4.0
    assert tag['"bnull5"'] == '"bnull5":(NULL, 0, 4.0, 4.0, NULL)'

    edge = {f.split(":(")[0]: f for f in _fragments(df, BASIC_EDGE)}
    # edge s: nullValue __NULL__ ⇒ empty string is NOT null
    assert edge['"bnull1"->"bnull1"'] == '"bnull1"->"bnull1":(NULL, NULL, 0.0, NULL, "")'
    assert edge['"bnull2"->"bnull2"'] == '"bnull2"->"bnull2":(NULL, NULL, 0.0, NULL, NULL)'
    # edge i has no default → NULL; edge d has no default → NULL chain ends NULL
    assert edge['"bnull7"->"bnull7"'] == '"bnull7"->"bnull7":(NULL, NULL, 0.0, 4.4, "")'


def test_date_time_datetime_timestamp_rendering(spark):
    spec = NodeSpec(
        name="date_test",
        id=NodeIDSpec(index=0),
        props=[
            PropSpec("c1", "date", 1, nullable=True),
            PropSpec("c2", "time", 2, nullable=True),
            PropSpec("c3", "datetime", 3, nullable=True),
            PropSpec("c4", "timestamp", 4, nullable=True),
        ],
    )
    df = read_records_csv(spark, f"{BASE}/date_test.csv")[0]
    tag = {f.split(":")[0]: f for f in _fragments(df, spec)}
    assert tag['"d1"'] == (
        '"d1":(DATE("2020-01-01"), TIME("18:28:23.284"), '
        'DATETIME("2020-01-01T18:28:23.284"), TIMESTAMP("2020-01-01T18:28:23"))'
    )
    # d2: epoch integer → unquoted TIMESTAMP(n) dual form
    assert tag['"d2"'] == (
        '"d2":(DATE("2020-01-02"), TIME("18:38:23.284"), '
        'DATETIME("2020-01-11T19:28:23.284"), TIMESTAMP(1578770903))'
    )
    assert tag['"dnull"'] == '"dnull":(NULL, NULL, NULL, NULL)'


def test_geography_wkt_passthrough(spark):
    spec = NodeSpec(
        name="geography_test",
        id=NodeIDSpec(index=0),
        props=[
            PropSpec("any_shape", "geography", 1, nullable=True),
            PropSpec("only_point", "geography(point)", 2, nullable=True),
            PropSpec("only_linestring", "geography(linestring)", 3, nullable=True),
            PropSpec("only_polygon", "geography(polygon)", 4, nullable=True),
        ],
    )
    df = read_records_csv(spark, f"{BASE}/geography_test.csv")[0]
    tag = {f.split(":")[0]: f for f in _fragments(df, spec)}
    assert 'ST_GeogFromText("POINT (-82.3764154 42.6452196)")' in tag['"g1"']
    assert 'ST_GeogFromText("Point(3 8)")' in tag['"g1"']  # quoted cell unwrapped
    # g3 only_point keeps its leading space (no whitespace trimming)
    assert 'ST_GeogFromText(" Point(0.0 0.0)")' in tag['"g3"']
    assert tag['"gnull"'] == '"gnull":(NULL, NULL, NULL, NULL)'


def test_course_with_header_multiline_quoted_field(spark):
    """Header + a quoted field containing a newline and a backslash —
    Go encoding/csv parses this natively; Spark needs multiLine + RFC4180
    escape, which read_records_csv pins."""
    spec = NodeSpec(
        name="building",
        id=NodeIDSpec(index=0),
        props=[PropSpec("name", "string", 2)],
    )
    df = read_records_csv(
        spark, f"{BASE}/course-with-header.csv", with_header=True, multi_line=True
    )[0]
    frags = set(_fragments(df, spec))
    # building-name field: No11\nB\ — \n escaped in rendered literal,
    # backslash doubled (Go strconv.Quote rules)
    assert '"English":("No11\\nB\\\\")' in frags
    assert '"Math":("No5")' in frags


def test_lazy_quotes_rows_survive(spark):
    df = read_records_csv(spark, f"{BASE}/course-lazy-quotes.csv", lazy_quotes=True)[0]
    rows = df.count()
    # Go lazyQuotes accepts all 7; Spark's STOP_AT_CLOSING_QUOTE keeps ≥5
    # (documented divergence for pathological bare-quote rows)
    assert rows >= 5
    spec = NodeSpec(
        name="course", id=NodeIDSpec(index=0),
        props=[PropSpec("name", "string", 1), PropSpec("credits", "int", 2)],
    )
    frags = set(_fragments(df, spec))
    assert any(f.startswith('"00testLazyQuotes0"') for f in frags)


def test_batch_2_statement_counts(spark):
    """batch: 2 in the YAML → ceil(rows/2) statements per spec."""
    spec = EdgeSpec(
        name="choose",
        src=NodeIDSpec(index=0), dst=NodeIDSpec(index=1),
        props=[PropSpec("grade", "int", 2)],
    )
    df = read_records_csv(spark, f"{BASE}/choose.csv")[0]
    stmts = assemble_statements(edge_values(df, spec).coalesce(1), spec, batch=2).collect()
    assert len(stmts) == 2  # 4 rows / batch 2
    assert all(s.statement.startswith("INSERT EDGE IGNORE_EXISTED_INDEX `choose`(`grade`) VALUES ") for s in stmts)
    assert sum(s.n_records for s in stmts) == 4


INT_BASE = "/root/reference/integration-testing/testdata/cases-int"


def test_cases_int_vid_rendering(spark):
    """cases-int corpus: INT VIDs render unquoted (incl. quoted CSV cells)."""
    spec = NodeSpec(
        name="course",
        id=NodeIDSpec(index=0, type="int"),
        props=[PropSpec("name", "string", 1), PropSpec("credits", "int", 2)],
    )
    df = read_records_csv(spark, f"{INT_BASE}/course.csv")[0]
    frags = set(_fragments(df, spec))
    assert '0:("Math", 3)' in frags
    assert '2:("Chinese", 1)' in frags  # "2" quoted in CSV → bare int VID
