"""Stage 5 — finalize: typed claims, repairs, dedup, validation, re-nest.

Pure NATIVE DataFrame ops (explode → expressions → window → agg): this is
where the reference's per-row Python post-processing
(backend/insurance_extractor.py:1073-1303) becomes whole-stage-codegen
column expressions plus one window — no Python in the hot path.

Semantics locked to the reference, including its quirks:
- ``math_valid``/``math_diff`` reflect the PRE-repair checksum state
  (set at insurance_extractor.py:1162-1163, before the repair passes);
- the C8 'reserve minus recovery' repair's balance test is category-
  independent (test_sum == calc_sum - 2*recovery for every category), so
  it fires on the FIRST category whose reserve exceeds recovery;
- at most one repair fires per claim (a success sets quality to 1.0,
  which gates every later repair);
- dedup keeps the FIRST-seen claim on full ties (insurance_extractor.py:1204-1219);
- the phantom filter runs after dedup on the normalized name (…:1224-1240).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import funcs as C

_STR_FIELDS = ["policy_number", "body_part", "claim_class",
               "injury_description", "extraction_source"]


def typed_claims(fields_df: DataFrame) -> DataFrame:
    """FIELDS_OUT → one typed row per claim (pre-dedup, post-repair)."""
    ex = fields_df.select(
        "url",
        F.posexplode_outer("claims_raw").alias("pos", "c"),
    ).where(F.col("c").isNotNull())

    df = ex.select(
        "url", "pos",
        F.trim(F.coalesce(F.col("c.claim_number"), F.lit(""))).alias("claim_number"),
        C.name_last_first(F.col("c.employee_name")).alias("employee_name"),
        C.status_normalize(F.col("c.status")).alias("status"),
        F.col("c.injury_date_time").alias("injury_date_time"),
        C.injury_type_normalize(F.col("c.injury_type")).alias("injury_type"),
        *[F.col(f"c.{f}").alias(f) for f in _STR_FIELDS],
        *[C.currency_clean(F.col(f"c.{f}")).alias(f) for f in C.CURRENCY_FIELDS],
    ).where(F.col("claim_number") != "")

    # C6 MED guardrail, then C4 claim year
    df = (df
          .withColumn("indemnity_paid",
                      C.med_guardrail(F.col("injury_type"), F.col("indemnity_paid")))
          .withColumn("indemnity_reserve",
                      C.med_guardrail(F.col("injury_type"), F.col("indemnity_reserve")))
          .withColumn("claim_year", C.claim_year(F.col("injury_date_time"))))

    # C7 math checksum
    calc_sum = (F.col("medical_paid") + F.col("medical_reserve")
                + F.col("indemnity_paid") + F.col("indemnity_reserve")
                + F.col("expense_paid") + F.col("expense_reserve"))
    df = (df.withColumn("calc_sum", calc_sum)
            .withColumn("err_net", F.abs(F.col("calc_sum") - F.col("recovery")
                                         - F.col("total_incurred")))
            .withColumn("err_gross", F.abs(F.col("calc_sum")
                                           - F.col("total_incurred")))
            .withColumn("q0", F.when((F.col("err_net") < 1.0)
                                     | (F.col("err_gross") < 1.0), 1.0)
                               .otherwise(0.5))
            .withColumn("math_valid", F.col("q0") == 1.0)
            .withColumn("math_diff",
                        F.round(F.least("err_net", "err_gross"), 2)))

    # C8 — reserve-vs-recovery repair (first category with reserve > recovery)
    rec = F.col("recovery")
    c8_balanced = F.abs(F.col("calc_sum") - 2 * rec
                        - F.col("total_incurred")) < 1.0
    c8_any = ((F.col("medical_reserve") > rec)
              | (F.col("indemnity_reserve") > rec)
              | (F.col("expense_reserve") > rec))
    df = df.withColumn(
        "c8_fires", (F.col("q0") < 1.0) & (rec > 0) & c8_balanced & c8_any
    ).withColumn(
        "c8_cat",
        F.when(~F.col("c8_fires"), F.lit(None))
         .when(F.col("medical_reserve") > rec, "m")
         .when(F.col("indemnity_reserve") > rec, "i")
         .otherwise("e"),
    ).withColumn("q1", F.when(F.col("c8_fires"), 1.0).otherwise(F.col("q0")))

    # C9 — duplicated paid==reserve repair, categories in order, quality-gated
    q = F.col("q1")
    for cat, tag in (("medical", "m"), ("indemnity", "i"), ("expense", "e")):
        p, r = F.col(f"{cat}_paid"), F.col(f"{cat}_reserve")
        fires = ((p > 0) & (p == r) & (q < 1.0)
                 & (F.abs(F.col("calc_sum") - r - rec
                          - F.col("total_incurred")) < 1.0))
        df = df.withColumn(f"c9_{tag}", fires)
        q = F.when(fires, 1.0).otherwise(q)
    df = df.withColumn("quality", q)

    for cat, tag in (("medical", "m"), ("indemnity", "i"), ("expense", "e")):
        r = f"{cat}_reserve"
        df = df.withColumn(
            r,
            F.when(F.col("c8_fires") & (F.col("c8_cat") == tag),
                   F.col(r) - rec)
             .when(F.col(f"c9_{tag}"), F.lit(0.0))
             .otherwise(F.col(r)))

    return df.drop("calc_sum", "err_net", "err_gross", "q0", "q1",
                   "c8_fires", "c8_cat", "c9_m", "c9_i", "c9_e")


def dedup_claims(df: DataFrame) -> DataFrame:
    """G5 — best-record top-1 per (url, claim_number): quality desc,
    nonzero-field count desc, first-seen wins ties."""
    df = df.withColumn("nonzero_fields", C.nonzero_currency_count())
    w = (Window.partitionBy("url", "claim_number")
               .orderBy(F.desc("quality"), F.desc("nonzero_fields"),
                        F.asc("pos")))
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))


def filter_phantoms(df: DataFrame) -> DataFrame:
    """F6 — drop calibration/placeholder claims."""
    return df.where(~C.is_phantom_name(F.col("employee_name")))


CLAIM_OUT_COLS = [
    "claim_number", "employee_name", "status", "injury_date_time",
    "claim_year", "injury_type", "body_part", "claim_class",
    "injury_description", "policy_number",
    *C.CURRENCY_FIELDS, "math_valid", "math_diff", "quality",
    "nonzero_fields", "confidence_score",
    "validation_errors", "financially_valid",
]


def finalize(fields_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """FIELDS_OUT → (claims table, documents table)."""
    claims = filter_phantoms(dedup_claims(typed_claims(fields_df)))
    # deterministic stand-in for the reference's per-claim confidence
    # (InsuranceClaim.confidence_score, insurance_extractor.py:71):
    # ruled-table rows are high-confidence, line-regex spots lower
    claims = claims.withColumn(
        "confidence_score",
        F.when(F.col("extraction_source") == "table", 1.0)
         .when(F.col("extraction_source") == "line", 0.6)
         .otherwise(0.5))
    # C10 — financial validation on the POST-repair values
    # (reference backend/insurance_extractor.py:1255-1303)
    claims = (claims
              .withColumn("validation_errors",
                          C.financial_validation_errors())
              .withColumn("financially_valid",
                          F.size("validation_errors") == 0))
    claims = claims.select("url", "pos", *CLAIM_OUT_COLS)

    per_doc = claims.groupBy("url").agg(
        F.count("*").alias("total_claims"),                             # A1
        F.sum(F.coalesce("total_incurred", F.lit(0.0)))
         .alias("total_incurred_all"),                                  # A2
        # sort_array on the pos-led struct → deterministic first-seen
        # order (collect_list alone is shuffle-order-dependent)
        F.array_sort(F.collect_list(F.struct(
            F.col("pos"), *[F.col(c) for c in CLAIM_OUT_COLS])))
         .alias("claims"),
        F.collect_set("claim_number").alias("_extracted_ids"),
    )

    # A11 — extraction-quality metrics, native twins of the reference's
    # validate_extraction_quality (backend/pdf_plumber.py:340-392)
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    # \S predicate == Python str.strip() truthiness (tabs included),
    # unlike trim() which only strips spaces
    non_empty = F.filter(lines, lambda l: l.rlike(r"\S"))
    n_non_empty = F.size(non_empty)
    avg_line_len = F.when(
        n_non_empty > 0,
        F.round(F.aggregate(non_empty, F.lit(0.0),
                            lambda acc, l: acc + F.length(l)) / n_non_empty,
                2)).otherwise(F.lit(0.0))
    page_markers = ((F.length(F.coalesce(F.col("text"), F.lit("")))
                     - F.length(F.replace(F.coalesce(F.col("text"),
                                                     F.lit("")),
                                          F.lit("PAGE "), F.lit(""))))
                    / 5).cast("int")
    claims_found = F.size(F.array_distinct(F.regexp_extract_all(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(r"W\d{2}IN\d{5}|\d{6}B"), F.lit(0))))
    completeness = F.greatest(
        F.lit(0.0),
        F.round(F.lit(1.0)
                - F.when(claims_found == 0, 0.5).otherwise(0.0)
                - F.when(avg_line_len < 10, 0.3).otherwise(0.0)
                - F.when(page_markers == 0, 0.2).otherwise(0.0), 2))

    docs = fields_df.select(
        "url", "warc_ts", "lang", "doc_kind", "text",
        F.size(lines).alias("total_lines"),
        n_non_empty.alias("non_empty_lines"),
        avg_line_len.alias("avg_line_length"),
        page_markers.alias("page_markers"),
        claims_found.alias("claim_numbers_found"),
        completeness.alias("completeness_score"),
        (completeness >= 0.7).alias("is_complete"),
        "policy_number", "insured_name", "report_date", "num_chunks",
        "field_spans", "fallback_used", "recovered_claims", "error",
        # page scalars, reduced from the page list in the UDF
        "total_pages", "scanned_pages", "avg_confidence",               # A3/A4
        F.array_distinct(
            F.regexp_extract_all(F.col("text"),
                                 F.lit(r"(?i)Claim#?\s*(\d+)"), F.lit(1)))
         .alias("_ids_in_text"),
    )

    docs = (docs.join(per_doc, "url", "left")
            .withColumn("total_claims", F.coalesce("total_claims", F.lit(0)))
            .withColumn("total_incurred_all",
                        F.coalesce("total_incurred_all", F.lit(0.0)))
            .withColumn("claims", F.coalesce(
                "claims", F.array().cast(per_doc.schema["claims"].dataType)))
            .withColumn("_extracted_ids", F.coalesce(
                "_extracted_ids", F.array().cast("array<string>"))))

    # J4 — validation diff, both directions
    docs = (docs
            .withColumn("missing_claims",
                        F.array_except("_ids_in_text", "_extracted_ids"))
            .withColumn("extra_claims",
                        F.array_except("_extracted_ids", "_ids_in_text"))
            .withColumn("validation_complete",
                        F.size("missing_claims") == 0)
            .drop("_ids_in_text", "_extracted_ids"))
    return claims, docs
