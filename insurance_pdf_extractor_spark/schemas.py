"""Declared StructTypes for every pipeline stage (SURVEY.md §1.2:
fixed schemas declared once; the fused ``mapInArrow`` stage builds its
output against the Arrow form of ``FIELDS_OUT``)."""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (BASELINE.json input_hint)
WEB_PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# raw (string-valued) claim emitted by the fields stage; typing happens
# natively in finalize
CLAIM_RAW = T.StructType([
    T.StructField(name, T.StringType(), True) for name in [
        "claim_number", "employee_name", "status", "injury_date_time",
        "injury_type", "body_part", "claim_class", "injury_description",
        "medical_paid", "medical_reserve", "indemnity_paid",
        "indemnity_reserve", "expense_paid", "expense_reserve",
        "recovery", "deductible", "total_incurred", "policy_number",
        "extraction_source",
    ]
])

FIELD_SPAN = T.StructType([
    T.StructField("field", T.StringType(), True),
    T.StructField("value", T.StringType(), True),
    T.StructField("start", T.IntegerType(), True),
    T.StructField("end", T.IntegerType(), True),
])

FIELDS_OUT = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("doc_kind", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    # the page list reduced in the UDF: count, scanned count, mean
    # confidence (0.0 for no pages)
    T.StructField("total_pages", T.IntegerType(), True),
    T.StructField("scanned_pages", T.IntegerType(), True),
    T.StructField("avg_confidence", T.DoubleType(), True),
    T.StructField("fallback_used", T.BooleanType(), True),
    T.StructField("recovered_claims", T.ArrayType(T.StringType()), True),
    T.StructField("error", T.StringType(), True),
    T.StructField("policy_number", T.StringType(), True),
    T.StructField("insured_name", T.StringType(), True),
    T.StructField("report_date", T.StringType(), True),
    T.StructField("num_chunks", T.IntegerType(), True),
    T.StructField("claims_raw", T.ArrayType(CLAIM_RAW), True),
    T.StructField("field_spans", T.ArrayType(FIELD_SPAN), True),
    # per-partition lineage rides the data stream: one sentinel row per
    # (stage, partition) with a JSON payload here, NULL on data rows —
    # the only executor→driver metrics channel that works when executors
    # don't share the driver's filesystem (lineage.py)
    T.StructField("_metric", T.StringType(), True),
])

# lineage/metrics table (FIXTURES.md §4; mandated by north_rule)
METRICS = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("doc_count", T.LongType(), True),
    T.StructField("bytes", T.LongType(), True),
    T.StructField("fail_count", T.LongType(), True),
    T.StructField("wall_ms", T.LongType(), True),
])
