"""YAML config front-end: parse the reference's REAL configs verbatim.

Loads ``/root/reference/examples/basic/basic.string.insert.v3.yaml`` and
``integration-testing/testdata/cases-string/cases.string.v3.yaml`` (read-only
reference inputs) through :mod:`nebula_importer_spark.sources.config` and
asserts (a) the parsed spec model field-by-field and (b) that replaying a
loaded source through the mapping core reproduces the same statement
fragments the hand-written specs in test_cases_string_parity.py produce.
"""

from __future__ import annotations

import pytest

from nebula_importer_spark.operators.mapping import edge_values, node_values
from nebula_importer_spark.plans.specs import Mode, NodeSpec
from nebula_importer_spark.sources.config import (
    ConfigError,
    load_config,
    read_source_accounted,
)
from nebula_importer_spark.sources.jdbc import options_from_sql_config

BASIC = "/root/reference/examples/basic/basic.string.insert.v3.yaml"
CASES_DIR = "/root/reference/integration-testing/testdata/cases-string"
CASES = f"{CASES_DIR}/cases.string.v3.yaml"


def test_basic_example_parses_field_by_field():
    cfg = load_config(BASIC)
    assert cfg.space == "basic_string_examples"
    assert cfg.batch == 128
    assert cfg.stats_interval_sec == 10.0
    assert len(cfg.before_hooks) == 1 and "CREATE TAG Person" in cfg.before_hooks[0]

    person, knows = cfg.sources
    assert person.path == "./person.csv" and person.kind == "local"
    assert person.csv.delimiter == "|" and person.csv.comment == "#"
    assert [n.name for n in person.nodes] == ["Person", "Person"]

    p0, p1 = person.nodes
    assert p0.id.type == "STRING" and p0.id.index == 0
    assert p0.props[2].nullable and p0.props[2].default_value == "female"
    assert p0.props[3].null_value == "_NULL_"
    # second tag: concat VID + filter expr, verbatim from the YAML
    assert p1.id.concat_items == ["person_", 0, "_id"]
    assert "Record[1]" in p1.filter and "Mahinda" in p1.filter
    assert Mode.convert(p1.mode) == Mode.INSERT

    assert knows.batch == 256
    k0, k1 = knows.edges
    assert k0.src.index == 0 and k0.dst.index == 1 and k0.rank is None
    assert k0.props[0].default_value == "0000-00-00T00:00:00"
    assert k1.rank is not None and k1.rank.index == 0
    assert k1.src.concat_items == ["person_", 0, "_id"]
    assert k1.filter == 'Record[0] != "0"'


def test_cases_yaml_replays_course_fragments(spark):
    """Loader-built specs == hand-written specs on the real fixture CSV."""
    cfg = load_config(CASES)
    by_path: dict[str, list] = {}
    for s in cfg.sources:
        by_path.setdefault(s.path, []).append(s)

    course = by_path["./course.csv"][0]
    df = read_source_accounted(spark, course, base_dir=CASES_DIR)[0]
    spec = course.nodes[0]
    vals = node_values(df, spec)
    frags = {r.fragment for r in vals.collect()}
    assert '"x101":("Math", 3)' in frags
    assert '"000test":("中国（　　）", 5)' in frags
    assert len(frags) == 7

    # the concat-VID variant of the same file (third course.csv source)
    concat_src = by_path["./course.csv"][1]
    cspec = concat_src.nodes[0]
    assert cspec.id.concat_items == ["c1", 0, "c2", 1, "2"]
    cfrags = {r.fragment for r in node_values(df, cspec).collect()}
    assert '"c1x101c2Math2":("Math", 3)' in cfrags


def test_cases_yaml_replays_follow_edge_with_rank(spark):
    cfg = load_config(CASES)
    follow = next(
        s for s in cfg.sources
        if s.path == "./follow.csv" and s.edges and s.edges[0].rank is not None
    )
    df = read_source_accounted(spark, follow, base_dir=CASES_DIR)[0]
    frags = {r.fragment for r in edge_values(df, follow.edges[0]).collect()}
    assert '"x200"->"y201"@0:(92.5)' in frags
    assert '"y201"->"z202"@2:(93.2)' in frags


def test_cases_yaml_delimiter_and_header(spark):
    cfg = load_config(CASES)
    src = next(s for s in cfg.sources if s.path == "./follow-delimiter.csv")
    assert src.csv.delimiter == "|" and src.csv.with_header
    df = read_source_accounted(spark, src, base_dir=CASES_DIR)[0]
    frags = {r.fragment for r in edge_values(df, src.edges[0]).collect()}
    assert frags == {
        '"student_y200"->"student_x201"@1:(85.6)',
        '"student_z202"->"student_x201"@2:(93.2)',
    }


def test_sql_source_options_translation():
    sql = {
        "endpoint": "db:3306",
        "dbName": "graph",
        "username": "u",
        "password": "p",
        "driverName": "mysql",
        "urlQuery": "useSSL=false",
        "dbTable": {"name": "person", "id": {"name": "pid"}, "fields": ["pid", "name"]},
    }
    opts = options_from_sql_config(sql, num_partitions=8, bounds=(0, 100))
    assert opts["url"] == "jdbc:mysql://db:3306/graph?useSSL=false"
    assert opts["dbtable"] == "person"
    assert opts["partitionColumn"] == "pid"
    assert opts["numPartitions"] == "8" and opts["upperBound"] == "100"
    # unbounded: no partition options at all
    assert "partitionColumn" not in options_from_sql_config(sql)


def test_bad_configs_raise():
    with pytest.raises(ConfigError):
        load_config("sources:\n  - tags:\n    - name: t\n      id: {index: 0}\n")
    with pytest.raises(ConfigError):
        load_config("manager:\n  statsInterval: nonsense\n")
    with pytest.raises(ConfigError):  # a source no tag or edge reads
        load_config("sources:\n  - path: ./x.csv\n")
    # a one-line argument that is no file and parses to a scalar is a path
    with pytest.raises(ConfigError, match="config file not found: /no/such/c.yaml"):
        load_config("/no/such/c.yaml")


def test_duration_and_defaults():
    cfg = load_config("manager:\n  spaceName: s\n  statsInterval: 1500ms\n")
    assert cfg.stats_interval_sec == 1.5
    assert cfg.batch == 128 and cfg.sources == []
