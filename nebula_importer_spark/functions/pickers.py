"""Picker → Catalyst Column compiler.

Re-expresses the reference's picker/converter pipeline
(``/root/reference/pkg/picker/config.go:31-129`` build order,
``converter_*.go`` conversion semantics) as a single Column expression over a
``record: array<string>`` column. Everything below is built-in
``pyspark.sql.functions`` or Spark SQL (the string quote) — JVM-side; there
is no Python in the per-row path.

Pipeline order (``pkg/picker/config.go:10-18``):

    ConcatItems > Indices  →  Nullable  →  DefaultValue | NullValue(short
    circuit)  →  Type  →  Function  →  (CheckOnPost — not needed)

The compiled Column yields the *rendered literal text* of the value, e.g.
``"str1"``, ``1.1``, ``DATE("2020-01-02")``, ``hash("abc")`` or ``NULL`` —
i.e. exactly what the reference splices into nGQL statements.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from nebula_importer_spark.functions.quoting import UNSIGNED_INT_RE

NULL_RENDER = "NULL"  # rendered literal for null props (pkg/spec/v3/value.go:8)

# Pinned constant replacing the reference's non-deterministic time.Now()
# default for null DATETIME (pkg/picker/converter_function.go:44-53).
# Divergence is intentional and documented: goldens never exercise it.
DATETIME_NULL_DEFAULT = "2000-01-01T00:00:00"

_SUPPORTED_TYPES = {
    "BOOL",
    "INT",
    "INT8",
    "INT16",
    "INT32",
    "INT64",
    "FLOAT",
    "DOUBLE",
    "STRING",
    "FIXED_STRING",
    "DATE",
    "TIME",
    "DATETIME",
    "TIMESTAMP",
    "GEOGRAPHY",
    "GEOGRAPHY(POINT)",
    "GEOGRAPHY(LINESTRING)",
    "GEOGRAPHY(POLYGON)",
}

VID_TYPES = {"INT", "INT64", "STRING", "FIXED_STRING"}  # value.go:54-59


class UnsupportedValueTypeError(ValueError):
    pass


def _elem(record: Column, index: int) -> Column:
    """record[index] with empty-string fallback for missing cells.

    The reference errors on out-of-range indices (picker_index.go:13-19);
    in a declarative plan we map missing → '' so malformed short rows render
    as empty values instead of failing the whole job (the CSV reader already
    skips unparseable rows, batch.go:119-123).
    """
    return F.coalesce(F.element_at(record, index + 1), F.lit(""))


# Go's strconv.Quote as a temporary SQL function, which the analyzer inlines
# at each call. A value that needs no \x, \u or \U escape (the guard: Go's
# unicode.IsPrint admits letters, marks, numbers, punctuation, symbols and the
# ASCII space; the short escapes \a..\r are excluded from it) takes the
# replace chain: backslash, double-quote, then \a..\r. The rest are split
# into code points, each written as strconv.Quote writes it. Every backslash
# in the text is char(92): inside a SQL string literal a backslash reads
# differently when spark.sql.parser.escapedStringLiterals is on, and the
# function keeps the parser settings of the session that creates it.
_NEEDS_HEX = r"[^\p{L}\p{M}\p{N}\p{P}\p{S} \x07-\x0d]"
_HEX_GUARD = "('" + _NEEDS_HEX.replace("\\", "' || char(92) || '") + "')"
_REPLACE_CHAIN = "s"
for _search, _escape in [("char(92)", "char(92)"), ("'\"'", "'\"'")] + [
    (f"char({7 + i})", f"'{e}'") for i, e in enumerate("abtnvfr")
]:
    _REPLACE_CHAIN = f"replace({_REPLACE_CHAIN}, {_search}, char(92) || {_escape})"
_GO_QUOTE_SQL = f"""
CREATE OR REPLACE TEMPORARY FUNCTION nis_go_quote(s STRING) RETURNS STRING RETURN
'"' || CASE WHEN s RLIKE {_HEX_GUARD} THEN array_join(transform(
  regexp_extract_all(s, '(?s)(.)', 1),
  ch -> CASE
    WHEN ch IN (char(92), '"') THEN char(92) || ch
    WHEN ascii(ch) BETWEEN 7 AND 13 THEN char(92) || substr('abtnvfr', ascii(ch) - 6, 1)
    WHEN ch RLIKE {_HEX_GUARD} THEN char(92) || format_string(CASE
      WHEN ascii(ch) < 128 THEN 'x%02x' WHEN ascii(ch) < 65536 THEN 'u%04x'
      ELSE 'U%08x' END, ascii(ch))
    ELSE ch END), '')
ELSE {_REPLACE_CHAIN} END || '"'
"""

_go_quote_sessions: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def register_go_quote(spark: SparkSession) -> None:
    """Create the SQL function behind :func:`quote_column` in ``spark``,
    once per session. Temporary functions belong to one session, so call
    this with the session of the DataFrame the quoted Columns go into
    (``df.sparkSession``)."""
    if spark not in _go_quote_sessions:
        spark.sql(_GO_QUOTE_SQL)
        _go_quote_sessions.add(spark)


def quote_column(c: Column) -> Column:
    """Go ``strconv.Quote`` as a Column expression, byte-exact with
    :func:`~nebula_importer_spark.functions.quoting.go_quote` on every code
    point the JVM's Unicode tables assign (JDK 17: Unicode 13).

    JVM-side, no Python worker: a call of the SQL function ``nis_go_quote``,
    which :func:`register_go_quote` creates in the DataFrame's session. Spark
    accepts it in projections and filters, not inside a generator such as
    ``explode``.
    """
    return F.call_function("nis_go_quote", c)


def _nullish(c: Column) -> Column:
    """The converters' built-in null-ish test (converter_non.go:19-49)."""
    return (c == "null") | (c == "NULL") | (c == "")


def _z_to_offset(c: Column) -> Column:
    """Trailing ``Z`` → ``+00:00`` (converter_function.go:49-51,69-71)."""
    return F.when(
        c.endswith("Z"),
        F.concat(F.substr(c, F.lit(1), F.length(c) - 1), F.lit("+00:00")),
    ).otherwise(c)


def _wrap(name: str, inner: Column) -> Column:
    return F.concat(F.lit(name + "("), inner, F.lit(")"))


def convert_type_column(c: Column, type_: str) -> Column:
    """Apply the reference's type conversion → rendered literal text.

    Semantics per type from ``pkg/picker/converter_type.go:59-132``,
    ``converter_non.go:15-49``, ``converter_function.go:34-76``.
    """
    t = type_.upper()
    if t in ("BOOL",):
        return F.when(_nullish(c), F.lit("false")).otherwise(c)
    if t in ("INT", "INT8", "INT16", "INT32", "INT64"):
        return F.when(_nullish(c), F.lit("0")).otherwise(c)
    if t in ("FLOAT", "DOUBLE"):
        return (
            F.when(_nullish(c), F.lit("0.0"))
            .when(~c.contains("."), F.concat(c, F.lit(".0")))
            .otherwise(c)
        )
    if t in ("STRING", "FIXED_STRING") or t.startswith("FIXED_STRING"):
        return quote_column(c)
    if t == "DATE":
        v = F.when(_nullish(c), F.lit("2000-01-01")).otherwise(c)
        return _wrap("DATE", quote_column(v))
    if t == "TIME":
        v = F.when(_nullish(c), F.lit("00:00:00.000000")).otherwise(c)
        return _wrap("TIME", quote_column(_z_to_offset(v)))
    if t == "DATETIME":
        v = F.when(_nullish(c), F.lit(DATETIME_NULL_DEFAULT)).otherwise(c)
        return _wrap("DATETIME", quote_column(_z_to_offset(v)))
    if t == "TIMESTAMP":
        return F.when(c.rlike(UNSIGNED_INT_RE), _wrap("TIMESTAMP", c)).otherwise(
            _wrap("TIMESTAMP", quote_column(c))
        )
    if t.startswith("GEOGRAPHY"):
        return _wrap("ST_GeogFromText", quote_column(c))
    raise UnsupportedValueTypeError(f"unsupported value type: {type_}")


@dataclass
class PickerConfig:
    """Mirror of ``pkg/picker/config.go:20-29`` (declarative subset).

    ``nullable`` in the reference is an arbitrary predicate; every config
    surface instantiates it as string equality against a sentinel
    (``pkg/spec/v3/prop.go:83-87``), so we model it as the sentinel itself
    (``null_sentinel is not None`` ⇔ nullable).
    """

    indices: Sequence[int] = field(default_factory=list)
    concat_items: Sequence[Union[int, str]] = field(default_factory=list)
    null_sentinel: Optional[str] = None  # input string meaning "null"
    null_value: str = NULL_RENDER  # rendered text when null (always "NULL")
    default_value: Optional[str] = None
    type: str = "STRING"
    function: Optional[str] = None

    def validate(self) -> None:
        if self.type.upper() not in _SUPPORTED_TYPES:
            raise UnsupportedValueTypeError(self.type)
        if not self.concat_items and not self.indices:
            raise ValueError("no indices or concat items")
        for i in list(self.indices):
            if i < 0:
                raise ValueError(f"invalid index {i}")
        for item in self.concat_items:
            if isinstance(item, int) and item < 0:
                raise ValueError(f"invalid concat index {item}")


def build_picker_column(cfg: PickerConfig, record: Column) -> Column:
    """Compile a picker config into one rendered-literal Column.

    Follows ``pkg/picker/config.go:31-129`` exactly:

    * concat items win over indices;
    * multiple indices + nullable → first value ≠ sentinel
      (``picker.go:39-50`` NullablePickers);
    * multiple indices without nullable → first index only;
    * null + default → substitute then continue conversion
      (``converter_default.go:9-15``);
    * null without default → literal ``NULL``, skipping type/function
      (``converter_null.go:25-31`` + short-circuit ``converter.go:41-66``).
    """
    cfg.validate()
    nullable = cfg.null_sentinel is not None

    if cfg.concat_items:
        parts = [
            F.lit(item) if isinstance(item, str) else _elem(record, item)
            for item in cfg.concat_items
        ]
        picked = F.concat(*parts)
        is_null = F.lit(False)
    elif len(cfg.indices) == 1 or not nullable:
        picked = _elem(record, cfg.indices[0])
        is_null = (picked == F.lit(cfg.null_sentinel)) if nullable else F.lit(False)
    else:
        # NullablePickers: first index whose value != sentinel.
        sentinel = F.lit(cfg.null_sentinel)
        picked = _elem(record, cfg.indices[0])
        for idx in cfg.indices[1:]:
            nxt = _elem(record, idx)
            picked = F.when(picked != sentinel, picked).otherwise(nxt)
        is_null = picked == sentinel

    if nullable and cfg.default_value is not None:
        picked = F.when(is_null, F.lit(cfg.default_value)).otherwise(picked)
        is_null = F.lit(False)

    converted = convert_type_column(picked, cfg.type)

    if cfg.function:
        if cfg.type.upper() in ("STRING", "FIXED_STRING"):
            # value already quoted by the STRING type converter
            converted = _wrap(cfg.function, converted)
        else:
            converted = _wrap(cfg.function, quote_column(converted))

    if nullable:
        return F.when(is_null, F.lit(cfg.null_value)).otherwise(converted)
    return converted
