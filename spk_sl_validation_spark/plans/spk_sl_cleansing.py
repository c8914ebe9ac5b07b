"""SPK/Source-List cleansing pipeline — Spark-first re-expression of
the reference's authoritative pipeline (SL_SPK_Cleansing.py, SURVEY.md
§3.1) and its V1 variant (SL_SPK_Check_V1.py, §3.2).

Dataflow (all lazy; one cached stage):

    EORD ──filter/anti-join──► valid SL ──3 broadcast joins──► enriched
    enriched ──window dup-mark + cascade A0–A3──► after_a3  [cached]
    after_a3 ──sentinel slice──► Apex branch (4 joins + cascade B)
    after_a3 ──membership slice──► IntraCo branch (derived-key join + cascade C)
    after_a3 ──A4–A7──► main ──backfill joins + Analysis──► 'Valid SL with SPK'
    MARC ──semi/anti──► 'SKU missing SL'

Scale posture: every build side is dim-sized → broadcast; the only
wide shuffle is the dual-source window over (Material/Plant).
``after_a3`` is cached because four branches consume it (the
reference reuses the same frame — SL_SPK_Cleansing.py:141,149,214,286;
without caching Spark would recompute the join tree per branch).
Its ``InMemoryRelation`` embeds the cached physical plan, whose
exchange ``plan_id``s count every plan built before it in the
session, so the optimized plan's text varies by those ids with what
ran earlier; output and execution do not.

``run_ts`` is injected (never ``current_timestamp()``) so runs are
reproducible — SURVEY.md §4.4.7.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spk_sl_validation_spark.functions.scalar import c, neq, strip_prefix
from spk_sl_validation_spark.operators import relational as R
from spk_sl_validation_spark.operators.rules import Guard, Rule, apply_cascade
from spk_sl_validation_spark.plans import rule_strings as RS

KEY2 = "Material/Plant"
KEY3 = "Material/Plant/Number"


@dataclass(frozen=True)
class Variant:
    """Semantic deltas between CL (authoritative) and V1 (SURVEY.md §3.2)."""

    name: str
    apex_sentinel: str
    intra_sentinel: str
    b8: str
    v1_status_semantics: bool  # V1: status '70.0' strings + isna arm in A2
    include_b3_b6: bool
    backfill_analysis: bool
    missing_sl_sheet: bool


CL = Variant(
    name="CL",
    apex_sentinel=RS.A3_APEX_SENTINEL,
    intra_sentinel=RS.A4_INTRA_SENTINEL,
    b8=RS.B8,
    v1_status_semantics=False,
    include_b3_b6=True,
    backfill_analysis=True,
    missing_sl_sheet=True,
)

V1 = Variant(
    name="V1",
    apex_sentinel=RS.A3_APEX_SENTINEL_V1,
    intra_sentinel=RS.A4_INTRA_SENTINEL_V1,
    b8=RS.B8_V1,
    v1_status_semantics=True,
    include_b3_b6=False,
    backfill_analysis=False,
    missing_sl_sheet=False,
)


def _normalize(tables: dict[str, DataFrame], variant: Variant) -> dict[str, DataFrame]:
    """Type normalization + key derivation (SL_SPK_Cleansing.py:63-77).

    CL runs statuses through double→long→string ('70.0'→'70') after a
    not-null prefilter; V1 stringifies the raw float ('70.0') and
    keeps null-status rows (SURVEY.md §4.4.2/.3).
    """
    t = dict(tables)
    marc = t["MARC"]
    status = c("Plant-sp.matl status")
    if variant.v1_status_semantics:
        marc = marc.withColumn("Plant-sp.matl status", status.cast("string"))
    else:
        marc = marc.filter(status.isNotNull()).withColumn(
            "Plant-sp.matl status", status.cast("long").cast("string")
        )
    # the reference derives both keys from Material+Plant (CL:76-77)
    marc = marc.withColumn(KEY2, F.concat_ws("/", "Material", "Plant"))
    t["MARC"] = marc

    eord = t["EORD"]
    eord = eord.withColumn(KEY2, F.concat_ws("/", "Material", "Plant"))
    eord = eord.withColumn(KEY3, F.concat_ws("/", "Material", "Plant", "Number"))
    t["EORD"] = eord
    return t


def run(
    tables: dict[str, DataFrame],
    run_ts: datetime,
    variant: Variant = CL,
) -> dict[str, DataFrame]:
    """Execute the pipeline; returns the report sheets by name."""
    t = _normalize(tables, variant)
    eord, marc = t["EORD"], t["MARC"]
    gar, spk_xref = t["GAR_Plants"], t["SPK_Xref"]
    mvke, mg5 = t["MVKE_3090"], t["MG5_Xref"]
    mara = t.get("MARA")

    # -- validity split (CL:84-110): invalid = expired ∪ blocked, dedup;
    #    OOS = plants out of project scope; valid = EORD ▷ (invalid ∪ OOS)
    expired = eord.filter(eord["Valid to"] < F.lit(run_ts))
    blocked = eord.filter(eord["Blocked"] == "X")
    invalid = R.dedup_first(R.union_all(expired, blocked), [KEY3])

    plants_oos = gar.filter(gar["SPK SL Project"] == "No").select("Plant")
    oos = R.semi_join(eord, plants_oos, on="Plant")

    invalid_all = R.dedup_first(R.union_all(invalid, oos), [KEY3])
    valid = R.anti_join(eord, invalid_all.select(KEY3), on=KEY3)

    # -- enrichment joins J1–J3 (CL:112-117) + A0 rules (CL:119-121)
    marc_proj = marc.select(
        F.col(KEY2),
        c("Plant-sp.matl status").alias("Plant Status"),
        marc["SpecProcurem Costing"].alias("Plant SPK"),
    )
    enriched = R.left_join(valid, marc_proj, on=KEY2)
    enriched = R.left_join(enriched, spk_xref.select("Vendor", "Vendor to SPK"), on="Vendor")
    enriched = R.left_join(enriched, gar.select("Plant", "Country"), on="Plant")

    a0_rules = [
        Rule(
            "A0a",  # CL:119 — 3rd-party vendors ('1'-prefix) map to SPK 20
            F.col("Vendor").startswith("1"),
            None,
            Guard.ALWAYS,
            extra_assignments={"Vendor to SPK": F.lit("20")},
        ),
        Rule(
            "A0b",  # CL:120-121 — Swissco: overwrite BOTH columns
            F.col("Vendor") == "9000341",
            RS.A0B_SWISSCO,
            Guard.ALWAYS,
            extra_assignments={"Vendor to SPK": F.lit(RS.A0B_SWISSCO)},
        ),
    ]
    enriched = apply_cascade(enriched, a0_rules, target="Comment", initial_from_target=False)

    # -- cascade A1–A3 (CL:128-134); A1 needs the dual-source window (D2)
    enriched = R.mark_duplicates(enriched, [KEY2], flag_col="__is_dual")
    if variant.v1_status_semantics:
        a2_cond = F.col("Plant Status").isNull() | (F.col("Plant Status") == "70.0")  # V1:115
    else:
        a2_cond = F.col("Plant Status").isin("70", "80")  # CL:131
    a13_rules = [
        Rule("A1", F.col("__is_dual"), RS.A1_DUAL, Guard.ALWAYS),
        Rule("A2", a2_cond, RS.A2_CANCELLED, Guard.ALWAYS),
        Rule("A3", F.col("Vendor") == "9000340", variant.apex_sentinel, Guard.IF_NULL),
    ]
    after_a3 = apply_cascade(enriched, a13_rules, target="Comment").drop("__is_dual")
    after_a3 = after_a3.cache()  # consumed by 4 branches (see module docstring)

    # -- Apex branch (CL:139-204): J4–J7 + cascade B
    apex = after_a3.filter(F.col("Comment") == variant.apex_sentinel).withColumn(
        "Material/3090", F.concat(F.col("Material"), F.lit("/3090"))
    )
    marc_3090 = marc.filter(marc["Plant"] == "3090").select(
        F.col(KEY2).alias("Material/3090"),
        c("Plant-sp.matl status").alias("Plant Status in 3090"),
        marc["SpecProcurem Costing"].alias("SPK in 3090"),
    )
    # build side sliced from the ENRICHED frame (CL:149) — may hold several
    # Numbers per material: the J5 row multiplication is load-bearing (§4.4.5)
    eord_3090 = after_a3.filter(F.col("Plant") == "3090").select(
        F.col(KEY2).alias("Material/3090"),
        F.col("Vendor").alias("Vendor in 3090"),
    )
    apex = R.left_join(apex, marc_3090, on="Material/3090")
    apex = R.left_join(apex, eord_3090, on="Material/3090")
    mvke_mg5 = R.left_join(
        mvke, mg5.select("Default Plant", "Apex MG5 to Vendor SPK"), on="Default Plant"
    )
    apex = R.left_join(
        apex, mvke_mg5.select("Material", "Default Plant", "Apex MG5 to Vendor SPK"), on="Material"
    )

    v3090_is_ecc = F.col("Vendor in 3090").startswith("1") | (F.col("Vendor in 3090") == "9000033")
    sent = variant.apex_sentinel
    b_rules = [
        Rule("B1", v3090_is_ecc & (F.col("Plant SPK") == "5S"), RS.B1, Guard.SENTINEL, sentinel=sent),
        # pandas `!= '5S'` fires on null Plant SPK → null-safe compile (§4.4.1)
        Rule("B2", v3090_is_ecc & neq(F.col("Plant SPK"), "5S"), RS.B2, Guard.SENTINEL, sentinel=sent),
    ]
    if variant.include_b3_b6:
        b_rules.append(
            Rule(
                "B3",  # CL:177-181
                F.col("Vendor in 3090").isNull()
                & F.col("Plant Status in 3090").isin("80", "70")
                & (F.col("Default Plant") == "300"),
                RS.B3,
                Guard.SENTINEL,
                sentinel=sent,
            )
        )
    b_rules.append(
        Rule(
            "B4",
            F.col("Vendor in 3090").isNull() & (F.col("Default Plant") == "300"),
            RS.B4,
            Guard.SENTINEL,
            sentinel=sent,
        )
    )
    b_rules.append(
        Rule(
            "B5",
            F.col("Plant SPK") == F.col("Apex MG5 to Vendor SPK"),
            RS.B5,
            Guard.SENTINEL,
            sentinel=sent,
        )
    )
    if variant.include_b3_b6:
        b_rules.append(
            Rule("B6", F.col("Default Plant").isNull(), RS.B6, Guard.SENTINEL, sentinel=sent)
        )
    b_rules.append(
        Rule("B7", F.col("Apex MG5 to Vendor SPK").isNull(), RS.B7, Guard.SENTINEL, sentinel=sent)
    )
    b_rules.append(Rule("B8", F.lit(True), variant.b8, Guard.SENTINEL, sentinel=sent))
    apex_final = apply_cascade(apex, b_rules, target="Comment")

    # -- IntraCo branch (CL:207-245): CN/JP membership + derived-key join J8
    def intra_slice(sales_org: str) -> DataFrame:
        plants = gar.filter((gar["SPK SL Project"] == "Yes") & (gar["Sales Org"] == sales_org))
        base = after_a3.filter(F.col("Comment").isNull())
        base = R.semi_join(base, plants.select("Plant"), on="Plant")
        return R.semi_join(base, plants.select("Vendor"), on="Vendor")

    intra_wip = R.union_all(intra_slice("3405"), intra_slice("3900"))
    intra_wip = intra_wip.withColumn(
        "Material/IntraCo Procurement Plant",
        F.concat_ws("/", F.col("Material"), strip_prefix("Vendor", 3)),  # CL:226
    )
    marc_intraco = marc.select(
        F.col(KEY2).alias("Material/IntraCo Procurement Plant"),
        c("Plant-sp.matl status").alias("InterCo Procurement Plant Status"),
        marc["SpecProcurem Costing"].alias("InterCo Procurement Plant SPK"),
    )
    intra_wip = R.left_join(intra_wip, marc_intraco, on="Material/IntraCo Procurement Plant")

    c_rules = [
        Rule(
            "C1",
            F.col("Plant SPK") == F.col("InterCo Procurement Plant SPK"),
            RS.C1,
            Guard.ALWAYS,
        ),
        Rule("C2", F.col("InterCo Procurement Plant Status").isNull(), RS.C2, Guard.IF_NULL),
        Rule("C3", F.lit(True), RS.C3, Guard.IF_NULL),
    ]
    intra_final = apply_cascade(intra_wip, c_rules, target="Comment")

    # -- main sheet A4–A7 (CL:286-303)
    intra_keys = intra_wip.select(KEY3).distinct().withColumn("__intra", F.lit(True))
    main = R.left_join(after_a3, intra_keys, on=KEY3)
    a47_rules = [
        Rule("A4", F.col("__intra").isNotNull(), variant.intra_sentinel, Guard.ALWAYS),
        Rule("A5", F.col("Plant SPK") == F.col("Vendor to SPK"), RS.A5_MATCH, Guard.IF_NULL),
        Rule("A6", F.col("Plant SPK") == "TW", RS.A6_TW, Guard.IF_NULL),
        Rule("A7", F.lit(True), RS.A7_MISMATCH, Guard.IF_NULL),
    ]
    main = apply_cascade(main, a47_rules, target="Comment").drop("__intra")

    # -- comment backfill + Analysis coalesce (CL:305-319, E13 as pure when)
    if variant.backfill_analysis:
        apex_comments = apex_final.select(
            F.col(KEY3), F.col("Comment").alias("__apex_comment")
        )
        intra_comments = intra_final.select(
            F.col(KEY3), F.col("Comment").alias("__intra_comment")
        )
        main = R.left_join(main, apex_comments, on=KEY3)
        main = R.left_join(main, intra_comments, on=KEY3)
        main = main.withColumn(
            "Analysis",
            F.when(F.col("Comment") == variant.apex_sentinel, F.col("__apex_comment"))
            .when(F.col("Comment") == variant.intra_sentinel, F.col("__intra_comment"))
            .otherwise(F.col("Comment")),
        ).drop("__apex_comment", "__intra_comment")

    sheets = {
        "Valid SL with SPK": main,
        "CN_JP_Intra": intra_final,
        "SKU via APEX SPK": apex_final,
    }

    # -- missing-SL branch (CL:249-253, 278-282; CL only)
    if variant.missing_sl_sheet and mara is not None:
        plants_is = gar.filter(gar["SPK SL Project"] == "Yes").select("Plant")
        marc_is = R.semi_join(marc, plants_is, on="Plant")
        marc_is = R.left_join(marc_is, mara.select("Material", "Material Type"), on="Material")
        marc_is = marc_is.filter(F.col("Material Type").isin("FERT", "HAWA", "ZICP"))
        active = marc_is.filter(c("Plant-sp.matl status") == "50")
        missing = R.anti_join(active, after_a3.select(KEY2), on=KEY2)
        sheets["SKU missing SL"] = missing

    return sheets
