"""Record linkage / entity resolution: blocked fuzzy best-match.

The block-verify-rank shape (supplier-master reconciliation,
near-identical product names): candidates only within a blocking key,
a cheap levenshtein lower bound before the O(len²) distance, then one
row per record via a window that reuses the block join's partitioning.

Blocking is the recall/cost dial, and the scale probe measures it
directly (SCALE.md §7): with the FIXED-cardinality bench key (first
character + last name token) a 10× catalog grows candidate pairs
~100× — 64 blocks, max block 3 470, 6.3e8 pair upper bound, 365
records/s — i.e. fixed-cardinality blocking does NOT survive a 10×
scale-up. The production dial is a higher-cardinality key; the
length-band key here (``block_firstchar_lasttoken_lenband``) is the
measured next step, and char-n-gram MinHash bands (`ext/dedup.py`)
are the 100 TB end state. The registered query pins the bench key
because its DuckDB oracle replays it verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def block_firstchar_lasttoken(name_col: str) -> Column:
    """The bench blocking key: first character + last whitespace token."""
    return F.concat(
        F.substring(name_col, 1, 1), F.lit("|"), F.substring_index(name_col, " ", -1)
    )


def block_firstchar_lasttoken_lenband(name_col: str) -> Column:
    """Higher-cardinality key for scaled catalogs: adds a name-length
    band of width ``band = 4``. Correct for verify distance d <= band - 1:
    levenshtein(a, b) <= d implies |len(a) - len(b)| <= d < band, so
    two matchable names can land in ADJACENT bands only — callers
    that need exact parity with unbanded blocking at distance d must
    also probe the neighbor band; at band > max_dist the miss rate is
    the standard blocking trade, measured in the scale probe."""
    return F.concat(
        block_firstchar_lasttoken(name_col),
        F.lit("|"),
        (F.length(name_col) / 4).cast("int").cast("string"),
    )


def fuzzy_best_match_collapsed(
    records: DataFrame,
    key_col: str,
    name_col: str,
    block: Column,
    max_dist: int,
) -> DataFrame:
    """Identical output to :func:`fuzzy_best_match`, at
    O(distinct-names²)-per-block verify cost instead of O(records²) —
    the production path for catalogs with heavy exact-name duplication
    (same exact-collapse-first move as ``dedup_corpus(exact_first=
    True)``; measured in SCALE.md §7: the 10× part catalog has 64
    distinct names across 200 000 records, so the record-level verify
    pays 6.3e8 levenshtein pairs for what is a 64×64 name problem).

    Equivalence argument: distance is a function of the NAME pair, and
    the blocking key is a function of the name, so the best candidate
    under (dist, match_key) ordering is always reachable through name
    groups — a same-name mate (dist 0, min other key in the group)
    beats every cross-name candidate, and among cross-name candidates
    at equal distance the winner is the name group with the smallest
    min-key. Pinned by ``tests/test_linkage.py`` equality on the real
    catalog.

    The per-name verdict relation (≤ distinct names rows) is broadcast
    back onto the record stream — correct for exactly the catalogs this
    path is for (names repeat heavily ⇒ distinct names ≪ records); when
    names are mostly unique the collapse buys nothing and the
    record-level :func:`fuzzy_best_match` is the right call.
    """
    # Smallest two keys per exact-name group (k1 = min; k2 covers the
    # case where the probing record IS the min and its best match is a
    # same-name mate) + group size. Deliberately NOT a row_number
    # window: partitionBy(name) would sort each whole name group in
    # ONE task — a hot name (the very thing this operator exists for)
    # becomes a straggler. Two plain hash aggregates with map-side
    # combine instead: per-task state is one key per distinct name,
    # any group size streams. The k1-annotate join is pinned
    # shuffle-hash (g1 is distinct-names-bounded; AQE upgrades to
    # broadcast when it proves small, and per-partition hash build is
    # safe when it does not).
    kv = records.select(F.col(key_col), F.col(name_col))
    g1 = kv.groupBy(name_col).agg(F.min(key_col).alias("__k1"))
    g2 = (
        kv.join(g1.select(name_col, "__k1").hint("shuffle_hash"), name_col)
        .filter(F.col(key_col) != F.col("__k1"))
        .groupBy(name_col)
        .agg(F.min(key_col).alias("__k2"))
    )
    groups = g1.join(g2.hint("shuffle_hash"), name_col, "left").withColumn("blk", block)
    # Cross-name candidates: distinct-name-level block join (the tiny
    # quadratic), each candidate name represented by its min key.
    a = groups.select(F.col(name_col), "blk").repartition(F.col("blk"), F.col(name_col))
    b = groups.select(
        F.col(name_col).alias("__bname"), F.col("__k1").alias("__bk1"), "blk"
    )
    cross = (
        a.join(b, "blk")
        .filter(F.col(name_col) != F.col("__bname"))
        .filter(F.abs(F.length(name_col) - F.length("__bname")) <= max_dist)
        .withColumn("__dist", F.levenshtein(name_col, "__bname"))
        .filter(F.col("__dist") <= max_dist)
    )
    wbest = Window.partitionBy(name_col).orderBy("__dist", "__bk1")
    best_cross = (
        cross.withColumn("__r", F.row_number().over(wbest))
        .filter(F.col("__r") == 1)
        .select(name_col, "__bname", "__bk1", "__dist")
    )
    # Per-name verdict (≤ distinct-names rows — broadcastable), then
    # one broadcast join back onto the full record stream.
    verdict = (
        groups.select(name_col, "__k1", "__k2")
        .join(best_cross.hint("shuffle_hash"), name_col, "left")
    )
    out = records.select(F.col(key_col), F.col(name_col)).join(
        F.broadcast(verdict), name_col
    )
    # A same-name mate exists iff a SECOND DISTINCT key exists in the
    # group — exactly __k2's definition (min key != __k1). A row count
    # would miscount duplicate (key, name) rows as mates and drop the
    # record's real cross-name match; countDistinct would cost an
    # extra expand exchange for a fact __k2 already carries.
    same_name = F.col("__k2").isNotNull()
    same_key = F.when(F.col(key_col) == F.col("__k1"), F.col("__k2")).otherwise(
        F.col("__k1")
    )
    return (
        out.select(
            F.col(key_col),
            F.col(name_col),
            F.when(same_name, same_key).otherwise(F.col("__bk1")).alias("match_key"),
            F.when(same_name, F.col(name_col)).otherwise(F.col("__bname")).alias(
                "match_name"
            ),
            F.when(same_name, F.lit(0))
            .otherwise(F.col("__dist"))
            .cast("int")
            .alias("dist"),
        )
        .filter(F.col("match_key").isNotNull())
    )


def fuzzy_best_match(
    records: DataFrame,
    key_col: str,
    name_col: str,
    block: Column,
    max_dist: int,
) -> DataFrame:
    """Per record, its best fuzzy match within its block:
    (key, name, match_key, match_name, dist), one row per record that
    has any match with ``levenshtein <= max_dist`` (ties broken by
    (dist, match_key)).

    Scale shape: the verify work is |block|²-per-block CPU, not
    scan-bound — the probe side is spread by (blk, key) so the
    levenshtein loop parallelizes across shuffle partitions regardless
    of input file layout; the |len(a)-len(b)| lower bound runs before
    the O(len²) distance; the final window reuses the block join's
    partitioning.
    """
    p = records.select(
        F.col(key_col), F.col(name_col), block.alias("blk")
    )
    a = p.repartition(F.col("blk"), F.col(key_col)).select(
        F.col(key_col), F.col(name_col), "blk"
    )
    b = p.select(
        F.col(key_col).alias("match_key"),
        F.col(name_col).alias("match_name"),
        "blk",
    )
    cand = (
        a.join(b, "blk")
        .filter(F.col(key_col) != F.col("match_key"))
        .filter(F.abs(F.length(name_col) - F.length("match_name")) <= max_dist)
        .withColumn("dist", F.levenshtein(name_col, "match_name"))
        .filter(F.col("dist") <= max_dist)
    )
    w = Window.partitionBy(key_col).orderBy("dist", "match_key")
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            key_col,
            name_col,
            "match_key",
            "match_name",
            F.col("dist").cast("int").alias("dist"),
        )
    )
