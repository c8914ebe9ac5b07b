"""Validation-rule queries: the declarative check suite evaluated in
one pass, plus row-level violation flagging — both oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spk_sl_validation_spark.operators.validation import Check, flag_violations, validate
from spk_sl_validation_spark.plans.registry import register
from spk_sl_validation_spark.sources.readers import load_table


# (name, ANSI predicate, severity). Pure data — the oracle generators
# run at import time, before any SparkContext exists, so Column
# construction must stay inside the lazily-called builder below.
_CHECK_SPECS: list[tuple[str, str, str]] = [
    ("positive_quantity", "l_quantity > 0", "error"),
    ("discount_in_range", "l_discount >= 0 AND l_discount <= 0.5", "error"),
    ("shipdate_present", "l_shipdate IS NOT NULL", "warning"),
    ("price_covers_quantity", "l_extendedprice >= l_quantity", "error"),
    ("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')", "error"),
    # A business rule the synthetic data genuinely violates, so the
    # flagging path is exercised on real rows, not just vacuously.
    ("quantity_under_reorder_cap", "l_quantity <= 45", "warning"),
]


def _lineitem_checks() -> list[Check]:
    return [
        Check(name, F.expr(sql), sql, severity=severity) for name, sql, severity in _CHECK_SPECS
    ]


def _violation_sql(sql: str) -> str:
    return f"CAST(SUM(CASE WHEN NOT coalesce({sql}, FALSE) THEN 1 ELSE 0 END) AS BIGINT)"


def _report_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS check, '{severity}' AS severity, "
        f"{_violation_sql(sql)} AS n_violations, COUNT(*) AS n_rows, "
        f"CAST({_violation_sql(sql)} AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS violation_rate "
        f"FROM lineitem"
        for name, sql, severity in _CHECK_SPECS
    )
    return selects


@register(
    "validation_report",
    doc="declarative validation suite: 5 checks evaluated in ONE scan → per-check violation report",
    oracle=_report_oracle(),
)
def validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return validate(li, _lineitem_checks())


def _flags_oracle() -> str:
    entries = ", ".join(
        f"CASE WHEN NOT coalesce({sql}, FALSE) THEN '{name}' END"
        for name, sql, _ in _CHECK_SPECS
    )
    return f"""
SELECT l_orderkey, l_linenumber,
       CAST(to_json(list_sort(list_filter([{entries}], x -> x IS NOT NULL))) AS VARCHAR)
         AS failed_checks
FROM lineitem
WHERE len(list_filter([{entries}], x -> x IS NOT NULL)) > 0
"""


@register(
    "validation_flags",
    doc="row-level violation flagging: sorted array of failed checks per offending row (quarantine feed)",
    oracle=_flags_oracle(),
)
def validation_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    flagged = flag_violations(li, _lineitem_checks())
    return flagged.filter(F.size("failed_checks") > 0).select(
        "l_orderkey",
        "l_linenumber",
        F.to_json(F.sort_array("failed_checks")).alias("failed_checks"),
    )


CONFIG_CASCADE = [
    {"id": "vip", "when": "o_totalprice > 300000", "message": "escalate: whale order", "guard": "always"},
    {"id": "urgent_open", "when": "o_orderpriority = '1-URGENT' AND o_orderstatus = 'O'", "message": "review: urgent still open"},
    {"id": "stale_f", "when": "o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1993-01-01 00:00:00'", "message": "archive candidate"},
    {"id": "fallback", "when": "TRUE", "message": "ok"},
]


def _config_cascade_oracle() -> str:
    from spk_sl_validation_spark.operators.rules import compile_to_sql, rules_from_config

    expr = compile_to_sql(rules_from_config(CONFIG_CASCADE))
    return f"SELECT o_orderkey, {expr} AS Comment FROM orders"


@register(
    "config_rule_cascade",
    doc=(
        "config-driven rule cascade: the analyst surface — rules as JSON "
        "(SQL predicate + message + guard), compiled by the same cascade "
        "compiler as the reference pipelines; the predicate strings drive "
        "both the Spark plan and the oracle, so a config edit stays "
        "DuckDB-verifiable by construction"
    ),
    oracle=_config_cascade_oracle(),
)
def config_rule_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spk_sl_validation_spark.operators.rules import compile_to_column, rules_from_config

    o = load_table(spark, sf_dir, "orders")
    rules = rules_from_config(CONFIG_CASCADE)
    return o.select(
        "o_orderkey", compile_to_column(rules).alias("Comment")
    )
