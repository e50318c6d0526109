"""Picker pipeline goldens — ported case-for-case from the reference's
/root/reference/pkg/picker/config_test.go (the conversion golden table).

Each case builds a PickerConfig, compiles it to a Column, evaluates it over
a one-row record DataFrame, and asserts the rendered literal text.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from nebula_importer_spark.functions.pickers import (
    PickerConfig,
    UnsupportedValueTypeError,
    build_picker_column,
    register_go_quote,
)

from tests.conftest import records_df


def pick(spark, cfg: PickerConfig, record: list[str]) -> str:
    df = records_df(spark, [record])
    register_go_quote(df.sparkSession)
    return df.select(build_picker_column(cfg, F.col("record")).alias("v")).head()[0]


# (name, cfg-kwargs, record, want)
CASES = [
    # -- simple index + type conversions (config_test.go:100-278) --
    ("index bool", dict(indices=[1], type="bool"), ["0", "true"], "true"),
    ("index bool null", dict(indices=[1], type="bool"), ["0", ""], "false"),
    ("index int", dict(indices=[1], type="int"), ["0", "1"], "1"),
    ("index int null", dict(indices=[1], type="int"), ["0", "NULL"], "0"),
    ("index float", dict(indices=[1], type="float"), ["0", "1.1"], "1.1"),
    ("index float int-text", dict(indices=[1], type="float"), ["0", "1"], "1.0"),
    ("index double null", dict(indices=[1], type="double"), ["0", "null"], "0.0"),
    ("index string", dict(indices=[1], type="string"), ["0", "str1", "str2"], '"str1"'),
    ("index date", dict(indices=[0], type="date"), ["2020-01-02"], 'DATE("2020-01-02")'),
    ("index time", dict(indices=[0], type="time"), ["18:38:23.284"], 'TIME("18:38:23.284")'),
    (
        "index datetime",
        dict(indices=[0], type="datetime"),
        ["2020-01-11T19:28:23.284"],
        'DATETIME("2020-01-11T19:28:23.284")',
    ),
    (
        "index datetime Z",
        dict(indices=[0], type="datetime"),
        ["2020-01-11T19:28:23Z"],
        'DATETIME("2020-01-11T19:28:23+00:00")',
    ),
    # TIMESTAMP dual form (config_test.go:182-226)
    (
        "ts iso",
        dict(indices=[0], type="timestamp"),
        ["2020-01-11T19:28:23"],
        'TIMESTAMP("2020-01-11T19:28:23")',
    ),
    ("ts epoch", dict(indices=[0], type="timestamp"), ["1578770903"], "TIMESTAMP(1578770903)"),
    ("ts empty", dict(indices=[0], type="timestamp"), [""], 'TIMESTAMP("")'),
    ("ts zero", dict(indices=[0], type="timestamp"), ["0"], "TIMESTAMP(0)"),
    ("ts 12", dict(indices=[0], type="timestamp"), ["12"], "TIMESTAMP(12)"),
    ("ts 0x", dict(indices=[0], type="timestamp"), ["0x"], 'TIMESTAMP("0x")'),
    ("ts 0X", dict(indices=[0], type="timestamp"), ["0X"], 'TIMESTAMP("0X")'),
    ("ts leading0", dict(indices=[0], type="timestamp"), ["0123456789"], "TIMESTAMP(0123456789)"),
    ("ts big", dict(indices=[0], type="timestamp"), ["9876543210"], "TIMESTAMP(9876543210)"),
    (
        "ts hex",
        dict(indices=[0], type="timestamp"),
        ["0x0123456789abcdef"],
        "TIMESTAMP(0x0123456789abcdef)",
    ),
    (
        "ts HEX",
        dict(indices=[0], type="timestamp"),
        ["0X0123456789ABCDEF"],
        "TIMESTAMP(0X0123456789ABCDEF)",
    ),
    # geography (config_test.go:227-278)
    (
        "geo",
        dict(indices=[0], type="geography"),
        ["Polygon((-85.1 34.8,-80.7 28.4,-76.9 34.9,-85.1 34.8))"],
        'ST_GeogFromText("Polygon((-85.1 34.8,-80.7 28.4,-76.9 34.9,-85.1 34.8))")',
    ),
    (
        "geo point",
        dict(indices=[0], type="geography(point)"),
        ["Point(0.0 0.0)"],
        'ST_GeogFromText("Point(0.0 0.0)")',
    ),
    (
        "geo linestring",
        dict(indices=[0], type="geography(linestring)"),
        ["linestring(0 1, 179.99 89.99)"],
        'ST_GeogFromText("linestring(0 1, 179.99 89.99)")',
    ),
    (
        "geo polygon",
        dict(indices=[0], type="geography(polygon)"),
        ["polygon((0 1, 2 4, 3 5, 4 9, 0 1))"],
        'ST_GeogFromText("polygon((0 1, 2 4, 3 5, 4 9, 0 1))")',
    ),
    # -- nullable pipeline (config_test.go:303-560) --
    (
        "nullable null rendered",
        dict(indices=[1], type="string", null_sentinel=""),
        ["str0", "", "str2"],
        "NULL",
    ),
    (
        "nullable sentinel changed",
        dict(indices=[1], type="string", null_sentinel="__NULL__"),
        ["str0", "__NULL__", "str2"],
        "NULL",
    ),
    (
        "not nullable empty string quotes",
        dict(indices=[1], type="string"),
        ["str0", "", "str2"],
        '""',
    ),
    (
        "defaultValue string",
        dict(indices=[1], type="string", null_sentinel="", default_value="str1"),
        ["str0", "", "str2"],
        '"str1"',
    ),
    (
        "defaultValue empty",
        dict(indices=[1], type="string", null_sentinel="_NULL_", default_value=""),
        ["str0", "_NULL_", "str2"],
        '""',
    ),
    (
        "defaultValue int",
        dict(indices=[1], type="int", null_sentinel="", default_value="1"),
        ["0", "", "2"],
        "1",
    ),
    # -- function hash (config_test.go:437-520) --
    (
        "hash string",
        dict(indices=[1], type="string", function="hash"),
        ["str0", "str1"],
        'hash("str1")',
    ),
    (
        "hash int multi-index",
        dict(indices=[1, 2, 3], type="int", function="hash"),
        ["0", "1"],
        'hash("1")',
    ),
    (
        "hash nullable null",
        dict(indices=[1], type="string", null_sentinel="", function="hash"),
        ["str0", "", "str2"],
        "NULL",
    ),
    (
        "hash nullable default",
        dict(
            indices=[1],
            type="string",
            null_sentinel="",
            default_value="str1",
            function="hash",
        ),
        ["str0", "", "str2"],
        'hash("str1")',
    ),
    # -- multi indices (config_test.go:500-700) --
    (
        "indices no nullable takes first",
        dict(indices=[1, 2, 3], type="string"),
        ["str0", "", "str2", "str3"],
        '""',
    ),
    (
        "indices nullable first non-null",
        dict(indices=[1, 2, 3], type="string", null_sentinel=""),
        ["str0", "", "", "str3"],
        '"str3"',
    ),
    (
        "indices nullable all null",
        dict(indices=[1, 2, 3], type="string", null_sentinel=""),
        ["str0", "", "", ""],
        "NULL",
    ),
    (
        "indices nullable sentinel changed",
        dict(indices=[1, 2, 3], type="string", null_sentinel="__NULL__"),
        ["str0", "__NULL__", "__NULL__", "__NULL__"],
        "NULL",
    ),
    (
        "indices defaultValue",
        dict(indices=[1, 2, 3], type="string", null_sentinel="", default_value="str1"),
        ["str0", "", "", ""],
        '"str1"',
    ),
    (
        "indices defaultValue int",
        dict(indices=[1, 2, 3], type="int", null_sentinel="", default_value="1"),
        ["0", "", "", ""],
        "1",
    ),
    # -- concat items (config_test.go:745-812) --
    (
        "concat items",
        dict(
            concat_items=["c1", 4, 5, "c2", 6, "c3"],
            indices=[1, 2, 3],
            type="string",
            null_sentinel="",
            default_value="str1",
        ),
        ["str0", "str1", "str2", "str3", "str4", "str5", "str6"],
        '"c1str4str5c2str6c3"',
    ),
    (
        "concat items empty cells",
        dict(
            concat_items=["c1", 4, 5, "c2", 6, "c3"],
            indices=[1, 2, 3],
            type="string",
            null_sentinel="",
            default_value="str1",
        ),
        ["", "", "", "", "", "", ""],
        '"c1c2c3"',
    ),
    (
        "concat items partial",
        dict(
            concat_items=["c1", 4, 5, "c2", 6, "c3"],
            indices=[1, 2, 3],
            type="string",
            null_sentinel="",
            default_value="str1",
        ),
        ["", "", "", "", "str4", "", ""],
        '"c1str4c2c3"',
    ),
    (
        "concat items hash",
        dict(
            concat_items=["c1", 4, 5, "c2", 6, "c3"],
            type="string",
            function="hash",
        ),
        ["str0", "str1", "str2", "str3", "str4", "str5", "str6"],
        'hash("c1str4str5c2str6c3")',
    ),
]


@pytest.mark.parametrize("name,kwargs,record,want", CASES, ids=[c[0] for c in CASES])
def test_picker_goldens(spark, name, kwargs, record, want):
    assert pick(spark, PickerConfig(**kwargs), record) == want


def test_unsupported_type_rejected():
    with pytest.raises(UnsupportedValueTypeError):
        PickerConfig(indices=[0], type="unsupported").validate()


def test_invalid_index_rejected():
    with pytest.raises(ValueError):
        PickerConfig(indices=[-1]).validate()
    with pytest.raises(ValueError):
        PickerConfig(concat_items=["str", -1]).validate()
    with pytest.raises(ValueError):
        PickerConfig().validate()
