"""Registry-wide differential tests: every registered query vs its
DuckDB oracle at sf0.001 (the driver does the same at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

from spk_sl_validation_spark.plans.registry import REGISTRY, _ensure_loaded
from tools.check_contract import TABLES, frame_fingerprint


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _specs():
    _ensure_loaded()
    return sorted(REGISTRY.values(), key=lambda s: s.name)


@pytest.mark.parametrize("spec", _specs(), ids=lambda s: s.name)
def test_query_matches_oracle(spec, spark, sf_dir, duck):
    from pyspark.sql import types as T

    df = spec.builder(spark, sf_dir)
    # Driver-hash hazard guard: the driver canonicalizes results with
    # pandas sort_values, which raises on list/dict cells — any complex
    # column must be serialized (to_json) before leaving the query.
    for f in df.schema.fields:
        assert not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)), (
            f"{spec.name}.{f.name}: {f.dataType.simpleString()} output breaks the "
            f"driver hasher — serialize with to_json on both sides"
        )
    spdf = df.toPandas()
    ddf = duck.execute(spec.oracle).df()
    s = frame_fingerprint(spdf)
    d = frame_fingerprint(ddf)
    assert s[0] == d[0], f"row count: spark={s[0]} duck={d[0]}"
    assert s[1] == d[1], f"columns: spark={s[1]} duck={d[1]}"
    assert s[2] == d[2], "value hash mismatch"


# DuckDB types whose pandas conversion diverges from Spark's under the
# driver's canonicalizer: HUGEINT/DECIMAL sums hash differently from
# int64/double, and nested types are unhashable. DESCRIBE costs only a
# plan, and catches hazards even when sf0.001 values happen to agree.
_BANNED_ORACLE_TYPES = ("HUGEINT", "INT128", "DECIMAL", "STRUCT", "MAP(", "[]")


def test_oracle_output_types_driver_safe(duck):
    bad = []
    for spec in _specs():
        info = duck.execute(f"DESCRIBE ({spec.oracle.rstrip().rstrip(';')})").fetchall()
        for row in info:
            colname, coltype = row[0], str(row[1])
            if any(b in coltype.upper() for b in _BANNED_ORACLE_TYPES):
                bad.append(f"{spec.name}.{colname}: {coltype}")
    assert not bad, "oracle columns with driver-hash-hazardous types:\n" + "\n".join(bad)


def test_registry_raises_on_broken_query_module(monkeypatch):
    from spk_sl_validation_spark.plans import registry

    monkeypatch.setattr(registry, "_LOADED", False)
    monkeypatch.setattr(registry, "QUERY_MODULES", ("definitely_missing_module_xyz",))
    with pytest.raises(ImportError, match="definitely_missing_module_xyz"):
        registry.all_queries()


def test_cascade_oracle_in_sync(spark):
    """The hand-inlined SQL in the rule_cascade_comment oracle must
    equal what compile_to_sql generates from the same rule list."""
    from spk_sl_validation_spark.operators.rules import compile_to_sql
    from spk_sl_validation_spark.plans.relational_queries import _lineitem_rules

    generated = compile_to_sql(_lineitem_rules())
    oracle = REGISTRY["rule_cascade_comment"].oracle
    assert "".join(generated.split()) in "".join(oracle.split())


def test_entry_smoke(spark):
    import __spark_entry__ as contract

    df = contract.entry(spark)
    assert df.count() > 0
    assert "Comment" in df.columns


def test_queries_and_oracles_contract():
    import __spark_entry__ as contract

    qs, os_ = contract.queries(), contract.oracle_sql()
    assert set(os_) == set(qs)
    assert len(qs) >= 19


def test_sample_order_puts_never_driver_green_first():
    """The driver samples a registry prefix; every name without
    recorded driver-green evidence (tools/driver_green.json) must sort
    before every name with it."""
    import json
    import pathlib

    from spk_sl_validation_spark.plans import registry as reg

    green = set(
        json.loads(
            (pathlib.Path(reg.__file__).resolve().parents[2] / "tools" / "driver_green.json").read_text()
        )["green"]
    )
    names = list(reg.all_queries().keys())
    flags = [n in green for n in names]
    # monotone: once green begins, no non-green follows
    assert flags == sorted(flags), "a never-driver-green query sorts after a green one"
