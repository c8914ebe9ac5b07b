"""Explicit StructTypes for every entity the engine touches.

Two families:

1. Reference-domain entities (SAP extract shapes) — reverse-engineered
   from every column the reference touches (SURVEY.md §1.2,
   FIXTURES.md). Reference evidence: SL_SPK_Cleansing.py:40-77,
   Status_Cleansing.py:23-76.
2. Driver testdata entities (TPC-H-ish star schema + events/documents/
   embeddings) at /root/testdata/sf*/ per TESTDATA.md.

The reference infers schemas from Excel and immediately re-normalizes
every key/code column to string (SL_SPK_Cleansing.py:63-70); our engine
declares schemas up front and applies the same normalization as an
explicit, auditable pass (plans/spk_sl_cleansing.py ``_normalize``,
plans/status_cleansing.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-domain entities (SURVEY.md §1.2). Column names keep the SAP
# extract headers verbatim so outputs are comparable with the reference.
# ---------------------------------------------------------------------------

# EORD source list — SL_SPK_Cleansing.py:55,67,73-77,84-91
EORD = T.StructType(
    [
        T.StructField("Material", T.StringType(), False),
        T.StructField("Plant", T.StringType(), False),
        T.StructField("Number", T.StringType(), False),
        T.StructField("Vendor", T.StringType(), True),
        T.StructField("Valid to", T.TimestampType(), True),
        T.StructField("Blocked", T.StringType(), True),
    ]
)

# MARC plant material master — SL_SPK_Cleansing.py:40,63-66,113
# "Plant-sp.matl status" arrives as double-with-nulls from Excel; the
# normalization pass reproduces the reference's double->long->string chain.
MARC = T.StructType(
    [
        T.StructField("Material", T.StringType(), False),
        T.StructField("Plant", T.StringType(), False),
        T.StructField("Plant-sp.matl status", T.DoubleType(), True),
        T.StructField("SpecProcurem Costing", T.StringType(), True),
        T.StructField("Valid from", T.TimestampType(), True),
    ]
)

# MARA general material master — SL_SPK_Cleansing.py:41,279; Status_Cleansing.py:57-59.
# X-plant status is string-typed: SC stringifies it directly (astype str,
# SC:57) with no int chain, so fixture values arrive as "50"/"80" strings.
MARA = T.StructType(
    [
        T.StructField("Material", T.StringType(), False),
        T.StructField("Material Type", T.StringType(), True),
        T.StructField("X-plant matl status", T.StringType(), True),
        T.StructField("X-distr.chain status", T.StringType(), True),
        T.StructField("Valid from", T.TimestampType(), True),
    ]
)

# MVKE_3090 Apex sales-org data — SL_SPK_Cleansing.py:44,69,156
MVKE_3090 = T.StructType(
    [
        T.StructField("Material", T.StringType(), False),
        T.StructField("Default Plant", T.StringType(), True),
    ]
)

# MG5_Xref — SL_SPK_Cleansing.py:45,70,156
MG5_XREF = T.StructType(
    [
        T.StructField("Default Plant", T.StringType(), False),
        T.StructField("Apex MG5 to Vendor SPK", T.StringType(), True),
    ]
)

# SPK_Xref vendor→SPK lookup — SL_SPK_Cleansing.py:43,68,114
SPK_XREF = T.StructType(
    [
        T.StructField("Vendor", T.StringType(), False),
        T.StructField("Vendor to SPK", T.StringType(), True),
    ]
)

# GAR_Plants plant scope dimension — SL_SPK_Cleansing.py:42,63,95,115,209-222
GAR_PLANTS = T.StructType(
    [
        T.StructField("Plant", T.StringType(), False),
        T.StructField("Sales Org", T.StringType(), True),
        T.StructField("Vendor", T.StringType(), True),
        T.StructField("Country", T.StringType(), True),
        T.StructField("SPK SL Project", T.StringType(), True),
        T.StructField("Status Cleansing Project", T.StringType(), True),
    ]
)

# MB52 warehouse stock — Status_Cleansing.py:26,65-69
MB52 = T.StructType(
    [
        T.StructField("Material", T.StringType(), False),
        T.StructField("Plant", T.StringType(), False),
        T.StructField("Unrestricted", T.DoubleType(), True),
        T.StructField("In Quality Insp.", T.DoubleType(), True),
        T.StructField("Blocked", T.DoubleType(), True),
    ]
)

REFERENCE_SCHEMAS: dict[str, T.StructType] = {
    "EORD": EORD,
    "MARC": MARC,
    "MARA": MARA,
    "MVKE_3090": MVKE_3090,
    "MG5_Xref": MG5_XREF,
    "SPK_Xref": SPK_XREF,
    "GAR_Plants": GAR_PLANTS,
    "MB52": MB52,
}

# ---------------------------------------------------------------------------
# Driver testdata entities (TESTDATA.md) — schemas as produced by the
# driver's parquet generator; declared here so reads can validate.
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
