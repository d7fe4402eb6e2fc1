"""Constant arrays and maps as one parsed SQL literal.

Built element by element (``F.array(*[F.lit(x) ...])``,
``F.create_map(...)``), a constant table costs several py4j round trips
per element. These helpers render it as one SQL expression parsed by a
single ``F.expr`` call; constant folding turns both forms into the same
optimized Catalyst literal (same data type, same values). Strings are
quoted with backslash escapes, as Spark's parser reads them under its
default ``spark.sql.parser.escapedStringLiterals=false``.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

_SUFFIX = {"bigint": "L", "double": "D"}  # SQL literal suffix per element type


def _sql_literal(v, suffix: str = "") -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        suffix = suffix or "D"
    return f"{v}{suffix}"


def literal_array(values: Iterable, element_type: str) -> Column:
    """``array<element_type>`` literal of ``values``; ``element_type`` is
    "bigint" or "double". Equals
    ``F.array(*[F.lit(v).cast(element_type) for v in values])``."""
    suffix = _SUFFIX[element_type]
    return F.expr("array(" + ", ".join(_sql_literal(v, suffix) for v in values) + ")")


def literal_map(mapping: Mapping) -> Column:
    """Map literal of a dict with str/int/float keys and values. Equals
    ``F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])``."""
    return F.expr(
        "map(" + ", ".join(_sql_literal(x) for kv in mapping.items() for x in kv) + ")"
    )
