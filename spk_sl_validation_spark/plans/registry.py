"""Named-query registry — the driver-contract surface.

Every operator from SURVEY.md §2 (plus the north-star extensions)
registers here as a ``QuerySpec``: a Spark builder ``(spark, sf_dir)
→ DataFrame`` and a required, equivalent ANSI-SQL oracle string that
DuckDB runs on the same parquet tables.

Determinism contract (the driver hash-compares values):
- Floating aggregates are summed as exact ``DECIMAL(18,2)`` and cast
  to ``DOUBLE`` at the end — Spark and DuckDB then produce
  bit-identical doubles regardless of accumulation order.
- Every window/top-k uses a total order (unique tiebreak columns).
- Every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str  # ANSI SQL that DuckDB runs on the same parquet tables
    headline: bool = False  # include in bench.py
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str, headline: bool = False, doc: str = ""
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, builder=fn, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


# The driver's correctness gate samples a PREFIX of the registry, so
# iteration order is verification-provenance policy. The ledger
# (tools/driver_green.json, updated each round from the newest
# CORRECTNESS_r*.json) is its only input.
def _ledger() -> tuple[frozenset[str], dict[str, int]]:
    """(driver-green names, name → most recent round whose driver
    sample verified it) from tools/driver_green.json. Missing or
    unreadable file → nothing green, so registration order rules."""
    import json
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[2] / "tools" / "driver_green.json"
    try:
        ledger = json.loads(path.read_text())
        return frozenset(ledger["green"]), dict(ledger.get("last_green_round", {}))
    except (OSError, ValueError, KeyError):
        return frozenset(), {}


def _ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY reordered for the driver's prefix sample:

    1. every not-yet-driver-green name, registration order — so a newly
       registered query automatically enters the sample frontier;
    2. driver-green names, OLDEST evidence first (ascending
       ``last_green_round``, missing → 0; registration order as
       tiebreak) — once the registry is fully green, each round's
       sample re-validates the stalest greens instead of repeating the
       freshest ones.

    Updating tools/driver_green.json with a new round's results
    auto-rotates the next round's sample onto whatever still lacks
    driver evidence."""
    _ensure_loaded()
    green, last = _ledger()
    never = [n for n in REGISTRY if n not in green]
    # sorted() is stable, so registration order breaks the ties
    stale_first = sorted((n for n in REGISTRY if n in green), key=lambda n: last.get(n, 0))
    return {n: REGISTRY[n] for n in never + stale_first}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in _ordered_registry().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered_registry().items()}


def headline_queries() -> dict[str, QuerySpec]:
    _ensure_loaded()
    return {name: spec for name, spec in REGISTRY.items() if spec.headline}


_LOADED = False

# Every module that registers queries. All dependencies (pyspark, pandas,
# numpy, duckdb) are hard requirements of the package — an ImportError in
# any of these is a bug that must surface, never a reason to silently
# shrink the driver-contract surface (a swallowed ImportError here would
# make the driver report *nothing* for the lost queries instead of red).
# Module order sets registration order, the sample-order tiebreak (see
# _ordered_registry); a module that imports another query module
# registers that one at the import.
QUERY_MODULES = (
    "pipeline_queries",
    "sql_tpch_suite",
    "sketch_queries",
    "streaming_queries",
    "function_surface_queries",
    "agg_surface_queries",
    "validation_queries",
    "modern_sql_queries",
    "assembly_queries",
    "event_analytics_queries",
    "timeseries_queries",
    "quality_queries",
    "corpus_queries",
    "sql_api_queries",
    "sampling_queries",
    "privacy_queries",
    "relational_queries",
    "text_queries",
    "dedup_queries",
    "similarity_queries",
    "multimodal_queries",
    "scale_queries",
    "event_queries",
    "graph_queries",
    "retrieval_queries",
    "webcure_queries",
)


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import importlib

    for mod in QUERY_MODULES:
        try:
            importlib.import_module(f"spk_sl_validation_spark.plans.{mod}")
        except BaseException as exc:
            raise ImportError(
                f"query module 'plans.{mod}' failed to import — its registered "
                f"queries would silently vanish from the driver contract: {exc!r}"
            ) from exc

    _LOADED = True
