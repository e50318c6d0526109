"""Golden tests for quoting/identifier/integer helpers.

Goldens derive from Go's strconv.Quote behavior and
/root/reference/pkg/utils/string.go:15-64 semantics.
"""

from nebula_importer_spark.functions.quoting import (
    convert_identifier,
    go_quote,
    is_unsigned_integer,
)


def test_go_quote_basic():
    assert go_quote("str1") == '"str1"'
    assert go_quote("") == '""'
    assert go_quote('say "hi"') == '"say \\"hi\\""'
    assert go_quote("back\\slash") == '"back\\\\slash"'
    assert go_quote("tab\there") == '"tab\\there"'
    assert go_quote("line\nbreak") == '"line\\nbreak"'
    assert go_quote("cr\rhere") == '"cr\\rhere"'
    assert go_quote("bell\a") == '"bell\\a"'
    assert go_quote("vt\v") == '"vt\\v"'


def test_go_quote_unicode_printable_kept():
    # strconv.Quote keeps printable non-ASCII as-is, but escapes non-ASCII
    # spacing chars (Go IsPrint only admits the ASCII space, U+0020)
    assert go_quote("中国（　　）") == '"中国（\\u3000\\u3000）"'
    assert go_quote("café") == '"café"'
    assert go_quote("😀") == '"😀"'


def test_go_quote_nonprintable():
    assert go_quote("\x00") == '"\\x00"'
    assert go_quote("\x1b") == '"\\x1b"'
    assert go_quote("\x7f") == '"\\x7f"'


def test_convert_identifier():
    assert convert_identifier("name") == "`name`"
    assert convert_identifier("na`me") == "`na\\`me`"
    assert convert_identifier("na\\me") == "`na\\\\me`"
    assert convert_identifier("na\\`me") == "`na\\\\\\`me`"


def test_is_unsigned_integer():
    # goldens from pkg/picker/config_test.go:182-226 TIMESTAMP duals
    assert is_unsigned_integer("1578770903")
    assert is_unsigned_integer("0")
    assert is_unsigned_integer("12")
    assert is_unsigned_integer("0123456789")
    assert is_unsigned_integer("9876543210")
    assert is_unsigned_integer("0x0123456789abcdef")
    assert is_unsigned_integer("0X0123456789ABCDEF")
    assert not is_unsigned_integer("")
    assert not is_unsigned_integer("0x")
    assert not is_unsigned_integer("0X")
    assert not is_unsigned_integer("2020-01-11T19:28:23")
    assert not is_unsigned_integer("-1")
    assert not is_unsigned_integer("1.5")


def test_exact_quote_column_end_to_end(spark):
    """quote_column renders arbitrary non-printables byte-equal to
    strconv.Quote (hex and unicode escapes) through node_values and
    assemble_statements, for every quoting prop type, with no Python
    evaluation node in the plan."""
    from nebula_importer_spark.operators.mapping import node_values
    from nebula_importer_spark.operators.statements import assemble_statements
    from nebula_importer_spark.plans.specs import NodeIDSpec, NodeSpec, PropSpec
    from tests.conftest import records_df

    typed = ("DATE", "DATETIME", "TIMESTAMP", "GEOGRAPHY")
    spec = NodeSpec(
        name="t",
        id=NodeIDSpec(type="INT", index=0),
        props=[PropSpec("p", "STRING", 1)] + [PropSpec(t.lower(), t, 2) for t in typed],
    )
    rows = [["1", "nul\x00byte"], ["2", "line\u2028sep"], ["3", "del\x7f"], ["4", "中国（　　）"],
            ["5", 'tab\there "\\"']]
    df = records_df(spark, [r + ["2020-01-02\u3000"] for r in rows])
    values = node_values(df, spec)
    plan = values._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = {r.vid: r for r in values.collect()}
    assert got["1"].p_p == '"nul\\x00byte"'
    assert got["2"].p_p == '"line\\u2028sep"'
    assert got["3"].p_p == '"del\\x7f"'
    assert got["4"].p_p == '"中国（\\u3000\\u3000）"'
    assert got["5"].p_p == '"tab\\there \\"\\\\\\""'
    assert [got["1"][f"p_{t.lower()}"] for t in typed] == [
        'DATE("2020-01-02\\u3000")',
        'DATETIME("2020-01-02\\u3000")',
        'TIMESTAMP("2020-01-02\\u3000")',
        'ST_GeogFromText("2020-01-02\\u3000")',
    ]
    # the course.csv string in its assembled statement
    statements = [r.statement for r in assemble_statements(values, spec, batch=1).collect()]
    assert (
        "INSERT VERTEX IGNORE_EXISTED_INDEX `t`(`p`, `date`, `datetime`, `timestamp`, "
        '`geography`) VALUES 4:("中国（\\u3000\\u3000）", DATE("2020-01-02\\u3000"), '
        'DATETIME("2020-01-02\\u3000"), TIMESTAMP("2020-01-02\\u3000"), '
        'ST_GeogFromText("2020-01-02\\u3000"))'
    ) in statements
    # and the oracle quotes every input
    for r in rows:
        assert go_quote(r[1]).startswith('"')


def test_quote_in_new_session_with_escaped_string_literals(spark):
    """node_values quotes in the session that owns the DataFrame, whatever
    its string-literal parser setting."""
    from nebula_importer_spark.operators.mapping import node_values
    from nebula_importer_spark.plans.specs import NodeIDSpec, NodeSpec, PropSpec
    from tests.conftest import records_df

    other = spark.newSession()
    other.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spec = NodeSpec(name="t", id=NodeIDSpec(index=0), props=[PropSpec("p", "STRING", 1)])
    text = 'back\\slash "q"\tnul\x00 中国（　）'
    df = records_df(other, [["k", text]])
    records_df(spark, [["x"]])  # the test session is the active one again
    (row,) = node_values(df, spec).collect()
    assert (row.vid, row.p_p) == (go_quote("k"), go_quote(text))
