"""Scalar column expressions covering the reference's function surface.

Reference function inventory (SURVEY.md §2.3/§2.9): string concat
(SL_SPK_Cleansing.py:73-77,143), substring (…:226), startswith (…:119),
casts (…:63-70), arithmetic add (Status_Cleansing.py:103), timestamp
comparison (SL_SPK_Cleansing.py:85), null-safe predicates (§4.4.1).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd. No Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def c(name: str) -> Column:
    """Column reference that tolerates SAP-style names with dots
    (e.g. ``Plant-sp.matl status``, ``In Quality Insp.``) — plain
    ``F.col`` would parse the dot as a struct-field access."""
    return F.col(f"`{name}`") if "." in name else F.col(name)


def slash_key(*cols: str | Column) -> Column:
    """Derived join key ``a/b[/c]`` — SL_SPK_Cleansing.py:73-77.

    Prefer multi-column joins where possible (Catalyst handles them
    natively); the concatenated key also exists because it appears
    verbatim in the reference's output sheets.
    """
    return F.concat_ws("/", *[F.col(c) if isinstance(c, str) else c for c in cols])


def strip_prefix(col: str | Column, n: int) -> Column:
    """``Vendor.str[n:]`` — SL_SPK_Cleansing.py:226 (n=3 there).

    1-based SQL substring: drop the first ``n`` chars.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, n + 1, 2_000_000_000)


def status_str(col: str | Column) -> Column:
    """The reference's two-step status normalization: double → long →
    string, stripping the Excel float artifact (``70.0 → "70"``) —
    SL_SPK_Cleansing.py:65, Status_Cleansing.py:58. Null-preserving.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("long").cast("string")


def neq(a: Column, b) -> Column:
    """Null-safe ``!=`` with pandas semantics (SURVEY.md §4.4.1).

    pandas ``NaN != 'x'`` is True; Spark ``null != 'x'`` is null
    (falsy under ``when``). ``NOT (a <=> b)`` restores pandas
    behavior. SQL equivalent: ``a IS DISTINCT FROM b``.
    """
    return ~a.eqNullSafe(b)
