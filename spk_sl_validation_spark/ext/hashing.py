"""Deterministic, cross-engine hashing primitives.

Everything downstream of dedup/fingerprinting needs hash values that
(a) are stable across runs and cluster topologies, and (b) can be
reproduced by the DuckDB oracle in plain SQL. ``xxhash64``/``hash``
differ between engines, so we standardize on **md5 truncated to 60
bits** (15 hex chars → BIGINT, always positive, no overflow):

- Spark:  ``CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)``
- DuckDB: ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``

Seeded variants concatenate ``'#<seed>'`` before hashing — this is the
family of independent hash functions MinHash needs.

All expressions are built-in JVM functions — narrow maps, no shuffle,
whole-stage-codegen'd; at 100 TB signature computation scales linearly
with zero data movement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col: str | Column, seed: int | None = None) -> Column:
    """60-bit integer hash of a string column (seeded family)."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL equivalent of unseeded :func:`md5_long` (same bit
    pattern)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def ws_tokens(col: str | Column) -> Column:
    """Whitespace tokenization: ``split(trim(x), '\\s+')``.

    DuckDB twin: ``string_split_regex(trim(x), '\\s+')``.

    Known cross-engine edge: Java's ``\\s`` matches vertical tab
    (``\\x0B``) but DuckDB's RE2 ``\\s`` ([\\t\\n\\f\\r ]) does not,
    so a document containing ``\\x0B`` tokenizes differently in the
    two engines (none exists in the driver tables; raw crawl data
    should be normalized — or both regexes pinned to the explicit
    class — before relying on oracle parity for such input).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


WS_TOKENS_SQL = r"string_split_regex(trim({col}), '\s+')"


# ---------------------------------------------------------------------------
# Cheap seeded permutation family for MinHash
# ---------------------------------------------------------------------------
#
# One md5 per shingle is affordable; 12+ are not (string concat + md5
# per seed per element, in interpreted higher-order functions, was the
# dominant cost of LSH at bench scale). Instead: hash once, then map
# through k independent affine permutations
#
#     perm_i(h) = (A_i * (h >> 30) + B_i * (h & (2^30-1)) + C_i) mod (2^61-1)
#
# Splitting h keeps every product < 2^61 and the sum < 2^63 — no
# overflow in Java longs (which wrap) nor DuckDB BIGINTs (which
# error), so both engines compute identical values with plain integer
# ops. Constants are md5-derived at import (deterministic everywhere).

MERSENNE_61 = (1 << 61) - 1
_LOW_MASK = (1 << 30) - 1


def _perm_constant(tag: str) -> int:
    import hashlib as _hl

    return int(_hl.md5(tag.encode()).hexdigest()[:7], 16) | 1  # 28 bits, odd


def perm_constants(i: int) -> tuple[int, int, int]:
    return (_perm_constant(f"A{i}"), _perm_constant(f"B{i}"), _perm_constant(f"C{i}"))


def seeded_perm(h: Column, i: int) -> Column:
    a, b, c = perm_constants(i)
    return (
        F.lit(a) * F.shiftright(h, 30) + F.lit(b) * h.bitwiseAND(F.lit(_LOW_MASK)) + F.lit(c)
    ) % F.lit(MERSENNE_61)


def seeded_perm_sql(h_expr: str, i: int) -> str:
    a, b, c = perm_constants(i)
    return f"(({a} * ({h_expr} >> 30) + {b} * ({h_expr} & {_LOW_MASK}) + {c}) % {MERSENNE_61})"


def word_shingles(tokens_expr: str, n: int = 3) -> Column:
    """Word n-gram shingles from a token-array SQL expression.

    Produced without explode — a pure array ``transform`` over slice
    windows, so shingling is a narrow per-row map (no shuffle; the
    dominant cost at scale is the md5 in the consumer, also narrow).
    Short documents (< n tokens) yield one shingle of the whole doc.

    Spark arrays: ``slice`` is 1-based; ``sequence(0, k)`` covers k+1
    start offsets.
    """
    return F.expr(
        f"transform(sequence(0, greatest(size({tokens_expr}) - {n}, 0)),"
        f" i -> concat_ws(' ', slice({tokens_expr}, i + 1, {n})))"
    )


def shingle_rows(df, id_col: str, text_col: str = "text", n: int = 3):
    """(id, s): one row per word n-gram shingle — the corpus-scale
    shingling path.

    posexplode tokens → window ``lead`` per (id, pos) to stitch each
    shingle → filter to valid starts. Fully codegen'd; the one
    exchange (hash by id) is exactly the distribution every consumer
    (min-aggregate signatures, distinct-shingle sets) needs next, so
    downstream group-bys add no further shuffle. ~4× faster than the
    per-row array-``transform`` build (interpreted HOFs), with
    identical output: docs shorter than ``n`` tokens yield one shingle
    of the whole doc (``concat_ws`` drops null leads).

    Valid-start test: a start is valid iff its last lead exists
    (``pos ≤ n_tok - n ⟺ lead(tok, n-1) IS NOT NULL``), with
    ``pos = 0`` kept unconditionally for the short-doc whole-doc
    shingle. Reusing the already-computed last lead instead of an
    unbounded count-over-partition removes a second window function
    from the stage — measured 22% off the signature stage at sf0.1,
    output byte-identical.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    tokdf = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, n)]
    full = leads[-1].isNotNull() if leads else F.lit(True)
    return (
        tokdf.select(
            id_col,
            "pos",
            F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
            full.alias("__full"),
        )
        .filter(F.col("__full") | (F.col("pos") == 0))
        .select(id_col, "s")
    )


def word_shingles_sql(tokens_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles` (1-based list_slice)."""
    return (
        f"list_transform(range(1, greatest(len({tokens_expr}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' '))"
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) bit interleave
# ---------------------------------------------------------------------------

#: Bits per coordinate of the z-order layout stats query and its oracle.
Z_BITS = 16


def z_value_expr(x: str, y: str, bits: int = Z_BITS) -> str:
    """Spark SQL expression interleaving the low ``bits`` of two
    integer expressions into a Morton z-value (x at even positions).
    Pure codegen'd integer bit math; shared by the z-order layout
    stats query and the z-order writer.

    Inputs are CAST to BIGINT first: on 32-bit ints a shift by 31
    wraps negative in Spark but raises Out-of-Range in DuckDB, so the
    cross-engine twin would silently diverge for int32 callers."""
    xb, yb = f"CAST({x} AS BIGINT)", f"CAST({y} AS BIGINT)"
    terms = [
        f"shiftleft(shiftright({xb}, {i}) & 1, {2 * i}) + "
        f"shiftleft(shiftright({yb}, {i}) & 1, {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def z_value_sql(x: str, y: str) -> str:
    """DuckDB twin of :func:`z_value_expr` at ``Z_BITS`` (operator
    syntax; same BIGINT widening)."""
    xb, yb = f"CAST({x} AS BIGINT)", f"CAST({y} AS BIGINT)"
    terms = [
        f"((({xb} >> {i}) & 1) << {2 * i}) + ((({yb} >> {i}) & 1) << {2 * i + 1})"
        for i in range(Z_BITS)
    ]
    return "(" + " + ".join(terms) + ")"
