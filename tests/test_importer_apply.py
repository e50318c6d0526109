"""Apply-mode incremental imports: the store analog.

The reference's client EXECUTES the rendered statements against a live
NebulaGraph store (``pkg/importer/importer.go:100-143``), so a second run
with mode UPSERT/UPDATE/DELETE mutates what the first run wrote.
``import_config(apply_path=…)`` reproduces that: each spec's batch is
applied to a persistent parquet table with the spec's mode semantics
(``operators/merge.apply_mutations``). These tests replay a multi-run
incremental scenario and assert the table's post-state after every run.
"""

from __future__ import annotations

import pytest

from nebula_importer_spark.pipeline.importer import import_config

PERSON_SPEC = """
    - name: person
      mode: {mode}
      id:
        type: "INT"
        index: 0
      props:
        - name: "name"
          type: "STRING"
          index: 1
        - name: "age"
          type: "int"
          index: 2
"""

DELETE_SPEC = """
    - name: person
      mode: DELETE
      id:
        type: "INT"
        index: 0
"""


def _cfg(tmp_path, csv_name, spec_block):
    return (
        "manager:\n  spaceName: t\n  batch: 100\n"
        "sources:\n"
        f"  - path: ./{csv_name}\n"
        "    tags:\n" + spec_block
    )


def _run(spark, tmp_path, csv_name, rows, spec_block, **kwargs):
    import pyarrow.parquet as pq

    (tmp_path / csv_name).write_text("\n".join(rows) + "\n")
    cfg_path = tmp_path / f"{csv_name}.yaml"
    cfg_path.write_text(_cfg(tmp_path, csv_name, spec_block))
    kwargs.setdefault("apply_path", str(tmp_path / "store"))
    result = import_config(spark, str(cfg_path), base_dir=str(tmp_path), **kwargs)
    for spec in result.specs:  # the observed count against the files
        if spec.applied_path is not None:
            assert spec.table_rows == pq.read_table(spec.applied_path).num_rows
    return result


def _table(spark, tmp_path):
    rows = spark.read.parquet(str(tmp_path / "store" / "tag_person")).collect()
    return {r.vid: (r.p_name, r.p_age) for r in rows}


def test_apply_incremental_runs(spark, tmp_path):
    # run 1 — INSERT three people
    r1 = _run(
        spark, tmp_path, "people.csv",
        ["1,alice,30", "2,bob,40", "3,carol,50"],
        PERSON_SPEC.format(mode="INSERT"),
    )
    assert r1.specs[0].applied_path.endswith("tag_person")
    assert r1.specs[0].table_rows == 3
    assert _table(spark, tmp_path) == {
        "1": ('"alice"', "30"), "2": ('"bob"', "40"), "3": ('"carol"', "50"),
    }

    # run 2 — UPSERT: update 2 twice (last statement wins), create 4
    r2 = _run(
        spark, tmp_path, "updates.csv",
        ["2,bobby,41", "4,dave,60", "2,bobbb,42"],
        PERSON_SPEC.format(mode="UPSERT"),
    )
    assert r2.specs[0].table_rows == 4
    assert _table(spark, tmp_path) == {
        "1": ('"alice"', "30"), "2": ('"bobbb"', "42"),
        "3": ('"carol"', "50"), "4": ('"dave"', "60"),
    }

    # run 3 — UPDATE mutates existing keys only: 99 is absent -> dropped
    # (the statement would error server-side), 3 is updated
    r3 = _run(
        spark, tmp_path, "fixes.csv",
        ["3,carla,51", "99,ghost,0"],
        PERSON_SPEC.format(mode="UPDATE"),
    )
    assert r3.specs[0].table_rows == 4
    got = _table(spark, tmp_path)
    assert got["3"] == ('"carla"', "51")
    assert "99" not in got

    # run 4 — DELETE TAG removes the key's row
    r4 = _run(spark, tmp_path, "gone.csv", ["1"], DELETE_SPEC)
    assert r4.specs[0].table_rows == 3
    assert set(_table(spark, tmp_path)) == {"2", "3", "4"}

    # run 5 — INSERT overwrites the WHOLE prop list of an existing key
    # (node.go INSERT semantics), re-creates 1
    r5 = _run(
        spark, tmp_path, "reload.csv",
        ["1,al,31", "2,bo,43"],
        PERSON_SPEC.format(mode="INSERT"),
    )
    assert r5.specs[0].table_rows == 4
    got = _table(spark, tmp_path)
    assert got["1"] == ('"al"', "31") and got["2"] == ('"bo"', "43")


GUARDED_SPEC = """
    - name: person
      mode: UPSERT
      id:
        type: "INT"
        index: 0
      props:
        - name: "name"
          type: "STRING"
          index: 1
        - name: "age"
          type: "int"
          index: 2
          nullable: true
          expr: 'val != "`age` = NULL"'
"""


def test_apply_upsert_prop_guard(spark, tmp_path):
    """A prop guard that drops its SET clause keeps the stored value; one
    that passes sets it, exactly as the rendered statement reads."""
    _run(spark, tmp_path, "p.csv", ["1,a,10", "2,b,20"], PERSON_SPEC.format(mode="INSERT"))
    r = _run(spark, tmp_path, "q.csv", ["1,aa,", "2,bb,21"], GUARDED_SPEC)
    (batch,) = [x.statement for x in r.specs[0].statements.collect()]
    assert 'UPSERT VERTEX ON `person` 1 SET `name` = "aa";' in batch
    assert 'UPSERT VERTEX ON `person` 2 SET `name` = "bb", `age` = 21;' in batch
    assert _table(spark, tmp_path) == {"1": ('"aa"', "10"), "2": ('"bb"', "21")}


def test_apply_insert_idempotent(spark, tmp_path):
    rows = ["1,a,10", "2,b,20"]
    spec = PERSON_SPEC.format(mode="INSERT")
    first = _run(spark, tmp_path, "p.csv", rows, spec)
    again = _run(spark, tmp_path, "p2.csv", rows, spec)
    assert first.specs[0].table_rows == again.specs[0].table_rows == 2
    assert _table(spark, tmp_path) == {"1": ('"a"', "10"), "2": ('"b"', "20")}


def test_import_runs_no_count_jobs(spark, tmp_path):
    """Every count the import reports is observed on a write it runs
    anyway: one statement write per spec, one table write per apply."""
    sc = spark.sparkContext
    spec = PERSON_SPEC.format(mode="UPSERT")
    _run(spark, tmp_path, "p.csv", ["1,a,10", "2,b,20"], spec)

    def jobs(group, **kwargs):
        sc.setJobGroup(group, group)
        try:
            result = _run(spark, tmp_path, "q.csv", ["2,bo,21", "3,c,30"], spec,
                          **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        (s,) = result.specs
        assert (s.n_records, s.n_statements) == (2, 1)
        return s, len(sc.statusTracker().getJobIdsForGroup(group))

    s, n = jobs("test-import-jobs-apply", output_path=str(tmp_path / "out"))
    assert s.table_rows == 3
    assert n <= 8
    s, n = jobs("test-import-jobs-noop", apply_path=None)
    assert s.table_rows is None
    assert n <= 3


EDGE_SPEC = """
    - name: knows
      mode: {mode}
      src:
        id:
          type: "INT"
          index: 0
      dst:
        id:
          type: "INT"
          index: 1
{props}
"""

EDGE_PROPS = """      props:
        - name: "w"
          type: "int"
          index: 2
"""


def _run_edges(spark, tmp_path, csv_name, rows, mode, props=EDGE_PROPS):
    (tmp_path / csv_name).write_text("\n".join(rows) + "\n")
    cfg = (
        "manager:\n  spaceName: t\n  batch: 100\n"
        "sources:\n"
        f"  - path: ./{csv_name}\n"
        "    edges:\n" + EDGE_SPEC.format(mode=mode, props=props)
    )
    cfg_path = tmp_path / f"{csv_name}.yaml"
    cfg_path.write_text(cfg)
    return import_config(
        spark, str(cfg_path), base_dir=str(tmp_path),
        apply_path=str(tmp_path / "store"),
    )


def test_apply_edges_key_includes_default_rank(spark, tmp_path):
    # INSERT two edges; no rank spec -> reference default rank 0 is the key
    r1 = _run_edges(spark, tmp_path, "e.csv", ["1,2,7", "2,3,8"], "INSERT")
    assert r1.specs[0].applied_path.endswith("edge_knows")
    assert r1.specs[0].table_rows == 2

    # UPSERT the 1->2 edge, create 3->4
    r2 = _run_edges(spark, tmp_path, "e2.csv", ["1,2,9", "3,4,1"], "UPSERT")
    assert r2.specs[0].table_rows == 3
    rows = spark.read.parquet(str(tmp_path / "store" / "edge_knows")).collect()
    got = {(r.src, r.dst, r.rank): r.p_w for r in rows}
    assert got == {("1", "2", "0"): "9", ("2", "3", "0"): "8",
                   ("3", "4", "0"): "1"}

    # DELETE EDGE 2->3
    r3 = _run_edges(
        spark, tmp_path, "e3.csv", ["2,3"], "DELETE", props=""
    )
    assert r3.specs[0].table_rows == 2
    rows = spark.read.parquet(str(tmp_path / "store" / "edge_knows")).collect()
    assert {(r.src, r.dst) for r in rows} == {("1", "2"), ("3", "4")}


def test_apply_cli_flag(tmp_path, capsys):
    import json

    from nebula_importer_spark.__main__ import main

    (tmp_path / "p.csv").write_text("1,a,10\n")
    (tmp_path / "c.yaml").write_text(
        _cfg(tmp_path, "p.csv", PERSON_SPEC.format(mode="INSERT"))
    )
    rc = main([
        "--config", str(tmp_path / "c.yaml"),
        "--apply-to", str(tmp_path / "store"),
        "--master", "local[2]", "--json",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["specs"][0]["applied"].endswith("tag_person")
    assert out["specs"][0]["table_rows"] == 1


def test_apply_update_missing_key_counts_failed_and_exits_1(tmp_path, capsys):
    """Reference contract: an UPDATE whose key is absent fails server-side
    and counts toward stats.IsFailed (pkg/importer/importer.go:110-128 +
    pkg/cmd/nebula-importer.go:118-130) — the apply analog drops the row,
    so the drop count must surface in --json and flip the exit code."""
    import json

    from nebula_importer_spark.__main__ import main

    (tmp_path / "p.csv").write_text("1,a,10\n2,b,20\n")
    (tmp_path / "c1.yaml").write_text(
        _cfg(tmp_path, "p.csv", PERSON_SPEC.format(mode="INSERT"))
    )
    rc = main(["-c", str(tmp_path / "c1.yaml"), "--json",
               "--apply-to", str(tmp_path / "store"), "--master", "local[2]"])
    assert rc == 0

    # second run: UPDATE one existing key and two missing keys
    (tmp_path / "u.csv").write_text("1,al,11\n98,ghost,0\n99,ghost,0\n")
    (tmp_path / "c2.yaml").write_text(
        _cfg(tmp_path, "u.csv", PERSON_SPEC.format(mode="UPDATE"))
    )
    rc = main(["-c", str(tmp_path / "c2.yaml"), "--json",
               "--apply-to", str(tmp_path / "store"), "--master", "local[2]"])
    assert rc == 1
    out = capsys.readouterr()
    payload = json.loads(
        [l for l in out.out.splitlines() if l.startswith("{")][-1]
    )
    assert payload["failed"] == 2
    assert payload["specs"][0]["failed"] == 2
    assert payload["specs"][0]["table_rows"] == 2  # table unchanged in size
    assert "failed to import" in out.err


def test_first_apply_probes_table_without_failed_read(spark, tmp_path):
    """A first apply run learns that the table is absent from the
    filesystem, not from a failed ``spark.read.parquet``: the failed read's
    query-execution listener logged a ~100-line "Listener threw an
    exception" stack trace on every first run. The driver log is the JVM's
    stderr, so the run happens in a fresh CLI process.

    A table directory that exists but holds no readable files is not a
    first run: the read raises instead of overwriting it with an empty
    table."""
    import os
    import subprocess
    import sys

    from pyspark.errors import AnalysisException

    (tmp_path / "p.csv").write_text("1,a,10\n")
    (tmp_path / "c.yaml").write_text(
        _cfg(tmp_path, "p.csv", PERSON_SPEC.format(mode="UPSERT"))
    )
    proc = subprocess.run(
        [sys.executable, "-m", "nebula_importer_spark", "-c", str(tmp_path / "c.yaml"),
         "--apply-to", str(tmp_path / "store"), "--master", "local[1]", "--json"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Listener threw an exception" not in proc.stderr
    assert (tmp_path / "store" / "tag_person").is_dir()

    (tmp_path / "empty" / "tag_person").mkdir(parents=True)
    with pytest.raises(AnalysisException):
        _run(
            spark, tmp_path, "p.csv", ["1,a,10"], PERSON_SPEC.format(mode="UPSERT"),
            apply_path=str(tmp_path / "empty"),
        )
