"""Config-driven one-call import + CLI, replaying the reference CLI's own
e2e fixture (``/root/reference/pkg/cmd/testdata/nebula-importer.v3.yaml`` +
node1/edge1 CSVs — ``pkg/cmd/nebula-importer_test.go:42-67``)."""

from __future__ import annotations

import shutil

import pytest

from nebula_importer_spark.pipeline.importer import import_config

REF_DIR = "/root/reference/pkg/cmd/testdata"


@pytest.fixture()
def fixture_dir(tmp_path):
    """Copy the reference fixture into a writable dir (reference is RO)."""
    for f in ("nebula-importer.v3.yaml", "node1.csv", "edge1.csv"):
        shutil.copy(f"{REF_DIR}/{f}", tmp_path / f)
    return str(tmp_path)


def test_import_config_replays_reference_e2e_fixture(spark, fixture_dir):
    result = import_config(
        spark,
        f"{fixture_dir}/nebula-importer.v3.yaml",
        base_dir=fixture_dir,
    )
    # 3 sources: node1.csv(2 tags), edge1.csv(2 edges), node1.csv(2 tags+2 edges)
    assert [(s.kind, s.name) for s in result.specs] == [
        ("tag", "node1"), ("tag", "node2"),
        ("edge", "edge1"), ("edge", "edge2"),
        ("tag", "node1"), ("tag", "node2"),
        ("edge", "edge1"), ("edge", "edge2"),
    ]
    # every spec maps the single CSV record into one batch statement
    assert all(s.n_records == 1 and s.n_statements == 1 for s in result.specs)

    by_pos = [r.statement for s in result.specs for r in s.statements.collect()]
    # node1.csv: 1,a,2,3.3 (INT vid, STRING/int/Double props — node.go golden)
    assert by_pos[0] == (
        'INSERT VERTEX IGNORE_EXISTED_INDEX `node1`(`prop1`, `prop2`, `prop3`) '
        'VALUES 1:("a", 2, 3.3)'
    )
    assert by_pos[1].startswith("INSERT VERTEX IGNORE_EXISTED_INDEX `node2`")
    # edge1.csv: 1,1,x
    assert by_pos[2] == (
        'INSERT EDGE IGNORE_EXISTED_INDEX `edge1`(`prop1`) VALUES 1->1:("x")'
    )
    # third source: same CSV mapped as prop-less edges too (src=1, dst="a"
    # is not a valid INT — the reference's row error path skips the record)
    assert result.specs[6].n_records in (0, 1)

    # hooks: statement1/statement2 are raw nGQL — recorded + skipped, never fatal
    assert [h.status for h in result.before_hooks] == ["skipped", "skipped"]
    assert result.after_hooks == []
    assert result.n_records >= 6


def test_import_config_writes_output_and_cli(spark, fixture_dir, tmp_path):
    out = str(tmp_path / "out")
    result = import_config(
        spark,
        f"{fixture_dir}/nebula-importer.v3.yaml",
        base_dir=fixture_dir,
        output_path=out,
    )
    first = result.specs[0]
    assert first.output_path == f"{out}/src0_0_tag_node1"
    got = spark.read.parquet(first.output_path).collect()
    assert got[0].statement.startswith("INSERT VERTEX")


def test_cli_main_json(fixture_dir, capsys):
    """The __main__ entry end-to-end (it owns its own Spark session)."""
    import json

    from nebula_importer_spark.__main__ import main

    rc = main(["-c", f"{fixture_dir}/nebula-importer.v3.yaml", "--json",
               "--master", "local[2]"])
    assert rc == 0
    line = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1]
    payload = json.loads(line)
    assert payload["records"] >= 6
    assert len(payload["specs"]) == 8
    assert payload["before_hooks"] == ["skipped", "skipped"]
    # clean fixture: failure accounting present and zero
    assert payload["failed"] == 0
    assert all(s["failed"] == 0 for s in payload["sources"])


def test_cli_exits_nonzero_on_failed_rows(fixture_dir, capsys):
    """stats.IsFailed contract (pkg/cmd/nebula-importer.go:118-130): rows
    the reader drops must surface in the summary AND flip the exit code —
    the reference returns "failed to import" when any record failed."""
    import json

    from nebula_importer_spark.__main__ import main

    # node1.csv is 4 columns; a 2-field row and an over-long row are
    # malformed for the fixture schema and get dropped by DROPMALFORMED
    with open(f"{fixture_dir}/node1.csv", "a") as f:
        f.write("9,short\n10,a,2,3.3,extra,fields\n")
    rc = main(["-c", f"{fixture_dir}/nebula-importer.v3.yaml", "--json",
               "--master", "local[2]"])
    assert rc == 1
    out = capsys.readouterr()
    line = [l for l in out.out.splitlines() if l.startswith("{")][-1]
    payload = json.loads(line)
    # the fixture reads node1.csv as TWO of its three sources: 2 dropped
    # rows are charged to each read, exactly like the reference's per-source
    # reader stats
    node_sources = [s for s in payload["sources"] if "node1.csv" in s["source"]]
    assert len(node_sources) == 2
    assert all(s["failed"] == 2 for s in node_sources)
    assert payload["failed"] == 4
    assert "failed to import" in out.err


def test_failed_rows_counted_and_exit_1(spark, tmp_path, capsys):
    """Malformed rows are skipped during the import's single scan, counted
    per source, and flip the CLI exit code (the reference's stats.IsFailed
    contract, pkg/cmd/nebula-importer.go:118-130)."""
    from nebula_importer_spark.__main__ import main

    (tmp_path / "rows.csv").write_text("1,a,2\n2,b,3\n9,short\n10,a,2,extra\n")
    cfg = tmp_path / "import.yaml"
    cfg.write_text("""\
manager:
  spaceName: t
  batch: 2
sources:
  - path: ./rows.csv
    tags:
      - name: node
        id: {type: INT, index: 0}
        props:
          - {name: p1, type: STRING, index: 1}
          - {name: p2, type: INT, index: 2}
""")

    result = import_config(spark, str(cfg), base_dir=str(tmp_path))
    (stat,) = result.sources
    assert (stat.raw_rows, stat.parsed_rows, stat.failed_rows) == (4, 2, 2)
    assert result.specs[0].n_records == 2
    # no output path: statements go to the noop sink, counted on that write
    assert result.specs[0].n_statements == result.specs[0].statements.count() == 1
    assert result.n_failed == 2 and result.is_failed

    # main() uses the caller's active session as it is
    assert main(["-c", str(cfg), "--json"]) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert "failed to import: 2 record(s)" in capsys.readouterr().err


def test_same_tag_twice_in_one_source_keeps_both_outputs(spark, tmp_path):
    """One source feeding the same tag twice with reordered props (the
    reference's fan-out of one reader to many importers): each spec writes
    its own statement directory."""
    lines = ["s1,ann,20", "s2,bob,21", "s3,cy,22"]
    (tmp_path / "student.csv").write_text("\n".join(lines) + "\n")
    cfg = """\
sources:
  - path: ./student.csv
    tags:
      - name: student
        id: {type: STRING, index: 0}
        props:
          - {name: name, type: STRING, index: 1}
          - {name: age, type: INT, index: 2}
      - name: student
        id: {type: STRING, index: 0}
        filter: {expr: 'Record[2] != "20"'}
        props:
          - {name: age, type: INT, index: 2}
          - {name: name, type: STRING, index: 1}
"""
    out = str(tmp_path / "out")
    result = import_config(spark, cfg, base_dir=str(tmp_path), output_path=out)
    first, second = result.specs
    assert first.output_path != second.output_path
    assert (first.n_records, second.n_records) == (
        len(lines), sum(1 for l in lines if l.split(",")[2] != "20")
    )
    for spec, props in ((first, "`name`, `age`"), (second, "`age`, `name`")):
        rows = spark.read.parquet(spec.output_path).collect()
        assert sum(r.n_records for r in rows) == spec.n_records
        assert spec.n_statements == spec.statements.count() == len(rows)
        assert all(f"`student`({props})" in r.statement for r in rows)


def test_cli_missing_config_fails_before_session(tmp_path):
    """A config path that does not exist fails naming the path, and the CLI
    never launches a Spark JVM for it."""
    import os
    import subprocess
    import sys

    missing = tmp_path / "nope.yaml"
    code = (
        "import sys\n"
        "from pyspark import SparkContext\n"
        "from nebula_importer_spark.__main__ import main\n"
        "try:\n"
        "    main(['-c', sys.argv[1]])\n"
        "finally:\n"
        "    assert SparkContext._gateway is None, 'a Spark JVM was launched'\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, str(missing)],
        capture_output=True, text=True, timeout=120,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert f"config file not found: {missing}" in proc.stderr
    assert "a Spark JVM was launched" not in proc.stderr
