"""Property-based tests (hypothesis) for the rendering helpers.

These are the byte-parity primitives every rendered statement flows through
(``functions/quoting.py``, mirroring Go ``strconv.Quote`` and
``pkg/utils/string.go``); the golden tests pin known vectors, the properties
pin the *invariants* on arbitrary Unicode. All but the last test are pure
Python; the last checks the Column quote against the Python oracle, one
Spark job per example.
"""

from __future__ import annotations

import functools
import re
import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from nebula_importer_spark.functions.quoting import (
    UNSIGNED_INT_RE,
    convert_identifier,
    go_quote,
    is_unsigned_integer,
)

_UNS_RE = re.compile(UNSIGNED_INT_RE)

# surrogates are not encodable text; Go strings are UTF-8 and never hold them
TEXT = st.text(alphabet=st.characters(exclude_categories=("Cs",)), max_size=64)


@given(TEXT)
@settings(max_examples=300)
def test_go_quote_output_is_ascii_safe_delimited(s):
    q = go_quote(s)
    assert q.startswith('"') and q.endswith('"')
    body = q[1:-1]
    # no raw quote/backslash/control chars survive unescaped: strip every
    # escape sequence, then check what remains
    stripped = re.sub(
        r"\\(x[0-9a-f]{2}|u[0-9a-f]{4}|U[0-9a-f]{8}|[abfnrtv\\\"])", "", body
    )
    assert '"' not in stripped and "\\" not in stripped
    assert not any(unicodedata.category(c) == "Cc" for c in stripped)


@given(TEXT)
@settings(max_examples=300)
def test_go_quote_roundtrips_through_python_unescape(s):
    """The escape grammar is invertible — decoding the body restores s."""
    body = go_quote(s)[1:-1]

    def _decode(m):
        e = m.group(1)
        if e[0] == "x":
            return chr(int(e[1:], 16))
        if e[0] in "uU":
            return chr(int(e[1:], 16))
        return {
            "a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r",
            "t": "\t", "v": "\v", "\\": "\\", '"': '"',
        }[e]

    decoded = re.sub(
        r"\\(x[0-9a-f]{2}|u[0-9a-f]{4}|U[0-9a-f]{8}|[abfnrtv\\\"])", _decode, body
    )
    assert decoded == s


@given(TEXT)
@settings(max_examples=300)
def test_identifier_quoting_roundtrips(s):
    q = convert_identifier(s)
    assert q.startswith("`") and q.endswith("`")
    inner = q[1:-1]
    assert inner.replace("\\\\", "\\").replace("\\`", "`") == s


@given(TEXT)
@settings(max_examples=500)
def test_unsigned_detector_matches_its_regex(s):
    """The Python classifier is the oracle of the Column-side rlike regex
    that drives the TIMESTAMP dual-render branch: they agree on every
    input."""
    assert is_unsigned_integer(s) == bool(_UNS_RE.fullmatch(s))


@given(st.integers(min_value=0, max_value=10**24))
def test_unsigned_detector_accepts_all_decimal_integers(n):
    assert is_unsigned_integer(str(n))


ASSIGNED_TEXT = st.text(
    alphabet=st.characters(exclude_categories=("Cs", "Cn")), max_size=24
)


@given(st.lists(ASSIGNED_TEXT, min_size=1, max_size=16))
@settings(max_examples=40, deadline=None)
def test_quote_column_matches_go_quote(spark, texts):
    """The JVM quote equals the oracle on every code point the JVM assigns.

    The JVM's regex classes follow its own Unicode tables (JDK 17: Unicode
    13), older than Python's: a code point unassigned there is not
    printable to it, so those are dropped from the input.
    """
    from pyspark.sql import functions as F

    from nebula_importer_spark.functions.pickers import quote_column, register_go_quote

    register_go_quote(spark)
    texts = ["".join(filter(_jdk_assigned, t)) for t in texts]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    got = {r.i: r.q for r in df.select("i", quote_column(F.col("s")).alias("q")).collect()}
    assert [got[i] for i in range(len(texts))] == [go_quote(t) for t in texts]


@functools.lru_cache(maxsize=None)
def _jdk_assigned(c: str) -> bool:
    from pyspark import SparkContext

    return SparkContext._jvm.java.lang.Character.getType(ord(c)) != 0  # 0 = UNASSIGNED
