"""Scalar function surface: quoting, type conversion, picker compilation.

These mirror the reference's ``pkg/picker`` + ``pkg/utils`` value pipeline
(see each module's docstrings for file:line citations) but are implemented as
Catalyst Column expressions so they run JVM-side — no per-row Python
anywhere on the hot path.
"""

from nebula_importer_spark.functions.quoting import (
    convert_identifier,
    go_quote,
    is_unsigned_integer,
)
from nebula_importer_spark.functions.pickers import (
    PickerConfig,
    build_picker_column,
    quote_column,
    register_go_quote,
)
from nebula_importer_spark.functions.filters import compile_filter

__all__ = [
    "convert_identifier",
    "go_quote",
    "is_unsigned_integer",
    "PickerConfig",
    "build_picker_column",
    "quote_column",
    "register_go_quote",
    "compile_filter",
]
