"""CSV source behavior (S11/S12): delimiter, header, comment, bad-row skip.

Mirrors the reference reader fixtures (``/root/reference/pkg/reader/
testdata/local*.csv`` + ``csv_test.go``): configurable delimiter, withHeader
skipping the first row, comment lines dropped, malformed rows skipped (not
fatal — ``pkg/reader/batch.go:119-123``), glob paths expanded.
"""

from __future__ import annotations

import pytest

from nebula_importer_spark.sources.csv import read_records_csv, records_from_columns


def _write(tmp_path, name: str, text: str) -> str:
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_basic_three_int_columns(spark, tmp_path):
    path = _write(tmp_path, "local.csv", "1,2,3\n4,5,6\n")
    rows = [r.record for r in read_records_csv(spark, path)[0].collect()]
    assert sorted(rows) == [["1", "2", "3"], ["4", "5", "6"]]


def test_delimiter_and_header(spark, tmp_path):
    path = _write(tmp_path, "d.csv", "a|b|c\n1|2|3\n4|5|6\n")
    rows = [r.record for r in read_records_csv(spark, path, delimiter="|", with_header=True)[0].collect()]
    assert sorted(rows) == [["1", "2", "3"], ["4", "5", "6"]]


def test_comment_lines_skipped(spark, tmp_path):
    path = _write(tmp_path, "c.csv", "# header comment\n1,2\n# mid comment\n3,4\n")
    rows = [r.record for r in read_records_csv(spark, path, comment="#")[0].collect()]
    assert sorted(rows) == [["1", "2"], ["3", "4"]]


def test_malformed_rows_skipped_not_fatal(spark, tmp_path):
    # a row with an unterminated quote is dropped, the rest survive
    path = _write(tmp_path, "bad.csv", '1,2,3\n4,"unterminated,6\n7,8,9\n')
    rows = [r.record for r in read_records_csv(spark, path)[0].collect()]
    assert ["1", "2", "3"] in rows and ["7", "8", "9"] in rows


def test_glob_paths(spark, tmp_path):
    _write(tmp_path, "follow-1.csv", "a,1\n")
    _write(tmp_path, "follow-2.csv", "b,2\n")
    rows = [r.record for r in read_records_csv(spark, str(tmp_path / "follow-*.csv"))[0].collect()]
    assert sorted(rows) == [["a", "1"], ["b", "2"]]



def test_column_pruning_setting_is_checked_not_changed(spark, tmp_path):
    """get_spark owns the CSV column-pruning setting; the reader refuses a
    session where it is on (malformed rows would go uncounted) and leaves
    the setting as it found it."""
    path = _write(tmp_path, "p.csv", "1,2\n")
    key = "spark.sql.csv.parser.columnPruning.enabled"
    spark.conf.set(key, "true")
    try:
        with pytest.raises(RuntimeError, match="get_spark"):
            read_records_csv(spark, path)
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "false")

def test_records_from_columns_null_to_empty(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], "a int, b string")
    rows = {tuple(r.record) for r in records_from_columns(df).collect()}
    assert rows == {("1", ""), ("2", "x")}
