"""String quoting / identifier escaping / integer detection.

Pure-Python, byte-compatible re-implementations of the reference's rendering
helpers (semantics from ``/root/reference/pkg/utils/string.go:15-64`` and Go's
``strconv.Quote`` used at ``pkg/picker/converter_type.go:122-125``).

:func:`go_quote` is the test oracle only: rows are quoted by the JVM-side
:func:`nebula_importer_spark.functions.pickers.quote_column`, which the tests
check against it. The two classify printable characters with different
Unicode tables (Python's ``unicodedata``, 14.0 on Python 3.11; the JVM's
regex classes, Unicode 13 on JDK 17), so they agree on every code point the
JVM assigns. The 836 code points assigned after Unicode 13 are escaped by the
JVM and kept by ``go_quote``; Go's own tables decide for the reference.
:func:`convert_identifier` renders identifiers when the specs build
statement text, and ``UNSIGNED_INT_RE`` is the Column form of
:func:`is_unsigned_integer`.
"""

from __future__ import annotations

import unicodedata

_SIMPLE_ESCAPES = {
    "\a": "\\a",
    "\b": "\\b",
    "\f": "\\f",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "\v": "\\v",
}

# Go unicode.IsPrint ~= categories Letter, Mark, Number, Punct, Symbol, or ' '.
_PRINTABLE_CATEGORIES = ("L", "M", "N", "P", "S")


def _is_print(ch: str) -> bool:
    if ch == " ":
        return True
    return unicodedata.category(ch)[0] in _PRINTABLE_CATEGORIES


def go_quote(s: str) -> str:
    """Double-quote a string exactly like Go's ``strconv.Quote``.

    Escapes ``"`` and ``\\``, uses the short escapes for BEL..VT, hex/unicode
    escapes for other non-printables, and leaves printable Unicode as-is.
    """
    out = ['"']
    for ch in s:
        if ch == '"' or ch == "\\":
            out.append("\\" + ch)
        elif ch in _SIMPLE_ESCAPES:
            out.append(_SIMPLE_ESCAPES[ch])
        elif _is_print(ch):
            out.append(ch)
        else:
            cp = ord(ch)
            if cp < 0x20 or cp == 0x7F:
                out.append(f"\\x{cp:02x}")
            elif cp < 0x10000:
                out.append(f"\\u{cp:04x}")
            else:
                out.append(f"\\U{cp:08x}")
    out.append('"')
    return "".join(out)


def convert_identifier(s: str) -> str:
    """Backtick-quote an identifier (``pkg/utils/string.go:50-64``)."""
    if "\\" in s:
        s = s.replace("\\", "\\\\")
    if "`" in s:
        s = s.replace("`", "\\`")
    return "`" + s + "`"


def is_unsigned_integer(s: str) -> bool:
    """Digit-run or ``0x``-hex classifier (``pkg/utils/string.go:15-40``).

    Drives the TIMESTAMP dual rendering: ``TIMESTAMP(1578770903)`` for
    integer-looking text vs ``TIMESTAMP("2020-01-11T19:28:23")`` otherwise.
    Note the reference's fast path means 2-char strings are digits-only
    (``"0x"`` is NOT an unsigned integer).
    """
    if not s:
        return False
    if len(s) <= 2:
        return all("0" <= c <= "9" for c in s)
    if s[0] == "0" and s[1] in ("x", "X"):
        body = s[2:]
        return all(
            "0" <= c <= "9" or "a" <= c <= "f" or "A" <= c <= "F" for c in body
        )
    return all("0" <= c <= "9" for c in s)


# Regex equivalent of is_unsigned_integer, for use with Column.rlike.
UNSIGNED_INT_RE = r"^([0-9]{1,2}|0[xX][0-9a-fA-F]+|[0-9]{3,})$"
