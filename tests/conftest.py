from __future__ import annotations

import os

import pytest

from spk_sl_validation_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Per-session warehouse dir: an orphaned ./spark-warehouse/<table>
    # location (from a previously interrupted run) would otherwise
    # poison saveAsTable with LOCATION_ALREADY_EXISTS.
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    spark = build_session(
        app_name="spk-sl-tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.warehouse.dir": str(warehouse),
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def assert_twin():
    """``assert_twin(frame, sql, **tables)``: the Spark ``frame`` and its
    DuckDB twin ``sql``, run over the pandas ``tables`` (registered by
    name), return the same rows — row count, columns and value hash, as
    tools/check_contract.py compares a query with its oracle."""
    import duckdb

    from tools.check_contract import frame_fingerprint

    def check(frame, sql, **tables):
        con = duckdb.connect()
        for name, pdf in tables.items():
            con.register(name, pdf)
        want = con.execute(sql).df()
        got = frame.toPandas()
        assert frame_fingerprint(got) == frame_fingerprint(want), (got, want)

    return check
