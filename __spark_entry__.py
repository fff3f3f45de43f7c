"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship 5-stage extraction pipeline over
web_pages derived from sf0.001 documents; ``queries()``/``oracle_sql()``
register every SQL-expressible operator from SURVEY.md §2 plus the
training-data-pipeline operators (dedup / similarity / text analysis)
against DuckDB oracles at sf0.01.

Conventions: every computed column is aliased IDENTICALLY in the Spark
plan and the oracle SQL; doubles are rounded (4dp) on both sides;
timestamps are never returned raw.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import funcs as C
from insurance_pdf_extractor_spark.pipeline import run_pipeline


# single-session memo: (session, {path: DataFrame}); reset whenever a
# different session arrives, so no DataFrame bound to a stopped session
# can ever be served and dead sessions aren't pinned
_T_CACHE: list = [None, {}]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table scan, memoized per session: Spark 4 runs a footer-read job
    on every spark.read.parquet call — reusing the DataFrame keeps query
    BUILDERS job-free after first touch (test_plans.py TestLazyBuilders)
    and avoids re-listing on every query."""
    if _T_CACHE[0] is not spark:
        _T_CACHE[0] = spark
        _T_CACHE[1] = {}
    path = f"{sf_dir}/{name}.parquet"
    if path not in _T_CACHE[1]:
        _T_CACHE[1][path] = spark.read.parquet(path)
    return _T_CACHE[1][path]


# ---------------------------------------------------------------------------
# flagship: web_pages from the documents table → full extraction pipeline
# ---------------------------------------------------------------------------

_HTML_PRE = ('<!DOCTYPE html>\n<html><head><title>doc</title></head><body>'
             '<nav><ul><li><a href="/home">Home</a></li>'
             '<li><a href="/about">About</a></li></ul></nav>'
             '<article><p>')
_HTML_POST = ('</p></article><footer><a href="/privacy">Privacy</a>'
              '</footer></body></html>')


def _web_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("https://testdata.local/doc/"), F.col("doc_id"))
         .alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
         .alias("warc_ts"),
        F.encode(F.concat(F.lit(_HTML_PRE), F.col("text"),
                          F.lit(_HTML_POST)), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Runs the FULL CCNet-style chain end-to-end (r7): extract →
    paragraph dedup → exact-substring dedup → Gopher repetition gate →
    PII scrub → MinHash-LSH near-dup dedup — every text-quality stage
    of run_pipeline exercised in one flagship invocation
    (decontaminate_ref is exercised by tests/bench instead: a flagship
    ref corpus would be a modeling choice, not a smoke check)."""
    web = _web_pages_from_documents(spark, "/root/testdata/sf0.001")
    # cache_intermediate=False: single-action path (the driver consumes
    # the returned DataFrame); the chain stages still pin the extraction
    # output once, as a GC-managed localCheckpoint
    res = run_pipeline(spark, web, output_dir=None, resume=False,
                       cache_intermediate=False, paragraph_dedup=True,
                       substring_dedup=True, repetition_filter=True,
                       scrub=True, dedup="minhash-lsh")
    return res.docs.select(
        "url", "doc_kind", "total_pages", "total_claims",
        F.length("text").alias("text_chars"), "validation_complete")


# ---------------------------------------------------------------------------
# VALUES fixtures shared by Spark and the SQL oracles
# ---------------------------------------------------------------------------

_CURRENCY_VALUES = ["$51,068.57", "1,234.00", "12.5", "", "N/A", "abc",
                    "$0.02", "99"]
_STATUS_VALUES = ["C", "CL", "CLOSED", "o", "Op", "OPEN", "r", "RC",
                  "REOP", "REOPENED", "weird", "  closed "]
_ITYPE_VALUES = ["COMP", "ttd", "TPD", "ppd", "Indemnity", "INDEM ONLY",
                 "MED", "Medical Only", "other", "MED ONLY"]
_DATE_VALUES = ["2023-05-18", "05/18/1999", "no year", "2101-01-01",
                "12/31/2020", "1998"]
_NAME_VALUES = ["John Smith", "John M. Smith", "Smith, John", "Cher",
                "Ana  Lima", "Mary Jane Watson"]
_PHANTOM_VALUES = ["Doe, John", "Johnson, Alice", "Watson, Glenn",
                   "Real Person", "a placeholder name", "TEST PERSON x",
                   "Boyce, Michael", "Okafor, Ada"]
# (claim_number, status, injury_type, date, name,
#  med_paid, med_res, ind_paid, ind_res, exp_paid, exp_res, recovery,
#  total) — duplicates + a math violation for G5/C7
_CLAIM_VALUES = [
    ("A100", "OP", "TTD", "2021-03-04", "Ada Okafor",
     "100.00", "50.00", "10.00", "40.00", "0", "0", "0", "200.00"),
    ("A100", "OP", "TTD", "2021-03-04", "Ada Okafor",
     "100.00", "50.00", "10.00", "40.00", "0", "0", "0", "999.00"),
    ("B200", "CLOSED", "MED ONLY", "05/06/2019", "Bo Chen",
     "$1,000.00", "250.00", "70.00", "30.00", "0", "0", "0", "1,250.00"),
    ("C300", "REOP", "COMP", "2020-12-01", "Watson, Glenn",
     "5.00", "5.00", "0", "0", "0", "0", "0", "10.00"),
    ("D400", "weird", "other", "no date", "Cher",
     "", "N/A", "1.5", "2.5", "0", "0", "0", "4.00"),
    ("", "OP", "MED", "2021-01-01", "Empty Key",
     "1", "1", "0", "0", "0", "0", "0", "2"),
]

_STOPWORDS = ["the", "a", "of", "and", "to"]

# C10 fixtures: clean / off-by-cents / big mismatch / negatives / nulls
_FINVAL_VALUES = [
    ("V1", 100.0, 50.0, 10.0, 40.0, 0.0, 0.0, 200.0),    # exact
    ("V2", 100.0, 50.0, 10.0, 40.0, 0.0, 0.0, 200.01),   # inside tolerance
                                                          # (IEEE: 200.02
                                                          # would FIRE)
    ("V3", 100.0, 50.0, 10.0, 40.0, 0.0, 0.0, 200.03),   # just outside
    ("V4", 100.0, 50.0, 10.0, 40.0, 0.0, 0.0, 999.0),    # way off
    ("V5", -5.0, 50.0, 10.0, 40.0, 0.0, 0.0, 95.0),      # negative paid
    ("V6", 100.0, -1.5, 10.0, 40.0, 0.0, -2.0, 146.5),   # two negatives
    ("V7", 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -10.0),         # negative total
    ("V8", None, 50.0, 10.0, 40.0, 0.0, 0.0, 100.0),     # null → 0.0
]
# single source of truth for field ORDER: funcs.FINVAL_FIELDS (the
# reference's iteration order drives error-string ordering)
_FINVAL_COLS = ["claim_number", *C.FINVAL_FIELDS]


def _values_sql(rows, cols) -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, (int, float)):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"
    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")"
                     for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


def _values_df(spark, rows, cols):
    return spark.createDataFrame([tuple(r) for r in rows], cols)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_top1_line_per_order(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"))
    return (li.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("l_orderkey", "l_linenumber",
                    F.round("l_extendedprice", 2).alias("best_price")))


def q_forward_fill_events(spark, sf):
    ev = _t(spark, sf, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)) \
         .otherwise(F.round("value", 2))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ev.withColumn("v", v)
            .select("user_id", "event_id",
                    F.last("v", ignorenulls=True).over(w).alias("filled")))


def q_lead_bounds_events(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("user_id", "event_id",
                     F.lead("event_id").over(w).alias("next_event_id"))


def q_anti_join_customers(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey,
                      "left_anti")
            .select("c_custkey", "c_name"))


def q_semi_join_parts(spark, sf):
    part = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (part.join(li, part.p_partkey == li.l_partkey, "left_semi")
            .select("p_partkey", "p_brand"))


def q_set_diff_both_ways(spark, sf):
    """J4 — one lazy plan: the two anti-join counts are 1-row aggs
    cross-joined (no driver-side .count() at builder time)."""
    li = _t(spark, sf, "lineitem").select("l_suppkey").distinct()
    sup = _t(spark, sf, "supplier").select("s_suppkey").distinct()
    missing = (sup.join(li, sup.s_suppkey == li.l_suppkey, "left_anti")
               .agg(F.count("*").alias("suppliers_without_lines")))
    extra = (li.join(sup, sup.s_suppkey == li.l_suppkey, "left_anti")
             .agg(F.count("*").alias("lines_without_supplier")))
    return missing.crossJoin(extra)


def q_revenue_by_parttype(spark, sf):
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .groupBy("p_type")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"),
                 F.count("*").alias("n_lines")))


def q_topk_orders(spark, sf):
    return (_t(spark, sf, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .select("o_orderkey",
                    F.round("o_totalprice", 2).alias("total_price"))
            .limit(10))


def q_distinct_segments_per_nation(spark, sf):
    cust = _t(spark, sf, "customer")
    return (cust.groupBy("c_nationkey")
            .agg(F.array_join(F.array_sort(F.collect_set("c_mktsegment")),
                              ", ").alias("segments")))


def q_rollup_revenue(spark, sf):
    """Grouping-sets shape: revenue by (brand, type) with ROLLUP totals."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (j.rollup("p_brand", "p_type")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"),
                 F.count("*").alias("n_lines")))


def q_distinct_counts(spark, sf):
    """A6 monitoring twin: exact distinct-key counts per table slice."""
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("distinct_parts"),
                 F.countDistinct("l_suppkey").alias("distinct_suppliers"),
                 F.count("*").alias("n")))


def q_json_props_sum(spark, sf):
    ev = _t(spark, sf, "events")
    return (ev.withColumn(
                "k", F.get_json_object("props", "$.k").cast("int"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n")))


# --- scalar normalization oracles (VALUES-based) ---------------------------

def q_field_normalize(spark, sf):
    """C1-C5 + F6 scalar normalizations in ONE query (merged from six
    VALUES micro-queries so the whole registry fits the driver's grading
    window): one row per (kind, raw) fixture value; the typed column the
    kind doesn't produce stays NULL."""
    def part(vals, kind, **cols):
        df = _values_df(spark, [(v,) for v in vals], ["raw"])
        typed = {
            "cleaned_amount": F.lit(None).cast("double"),
            "status": F.lit(None).cast("string"),
            "itype": F.lit(None).cast("string"),
            "claim_year": F.lit(None).cast("int"),
            "name": F.lit(None).cast("string"),
            "is_phantom": F.lit(None).cast("boolean"),
        }
        typed.update(cols)
        return df.select(F.lit(kind).alias("kind"), "raw",
                         *[e.alias(k) for k, e in typed.items()])
    return (
        part(_CURRENCY_VALUES, "currency",
             cleaned_amount=C.currency_clean(F.col("raw")))
        .unionByName(part(_STATUS_VALUES, "status",
                          status=C.status_normalize(F.col("raw"))))
        .unionByName(part(_ITYPE_VALUES, "injury_type",
                          itype=C.injury_type_normalize(F.col("raw"))))
        .unionByName(part(_DATE_VALUES, "claim_year",
                          claim_year=C.claim_year(F.col("raw"))))
        .unionByName(part(_NAME_VALUES, "name",
                          name=C.name_last_first(F.col("raw"))))
        .unionByName(part(_PHANTOM_VALUES, "phantom",
                          is_phantom=C.is_phantom_name(F.col("raw")))))


_CLAIM_COLS = ["claim_number", "status", "injury_type", "injury_date",
               "employee_name", "medical_paid", "medical_reserve",
               "indemnity_paid", "indemnity_reserve", "expense_paid",
               "expense_reserve", "recovery", "total_incurred"]


def q_claims_normalize(spark, sf):
    """C1-C7 + C6 guardrail + G5 dedup + F6 phantom filter in one plan."""
    df = _values_df(spark, _CLAIM_VALUES, _CLAIM_COLS)
    num = ["medical_paid", "medical_reserve", "indemnity_paid",
           "indemnity_reserve", "expense_paid", "expense_reserve",
           "recovery", "total_incurred"]
    df = df.select(
        F.trim("claim_number").alias("claim_number"),
        C.status_normalize(F.col("status")).alias("status"),
        C.injury_type_normalize(F.col("injury_type")).alias("injury_type"),
        C.claim_year(F.col("injury_date")).alias("claim_year"),
        C.name_last_first(F.col("employee_name")).alias("employee_name"),
        *[C.currency_clean(F.col(c)).alias(c) for c in num],
    ).where(F.col("claim_number") != "")
    df = (df.withColumn("indemnity_paid",
                        C.med_guardrail(F.col("injury_type"),
                                        F.col("indemnity_paid")))
            .withColumn("indemnity_reserve",
                        C.med_guardrail(F.col("injury_type"),
                                        F.col("indemnity_reserve"))))
    calc = (F.col("medical_paid") + F.col("medical_reserve")
            + F.col("indemnity_paid") + F.col("indemnity_reserve")
            + F.col("expense_paid") + F.col("expense_reserve"))
    df = (df.withColumn("math_diff",
                        F.round(F.least(
                            F.abs(calc - F.col("recovery")
                                  - F.col("total_incurred")),
                            F.abs(calc - F.col("total_incurred"))), 2))
            .withColumn("math_valid", F.col("math_diff") < 1.0))
    w = Window.partitionBy("claim_number").orderBy(
        F.desc("math_valid"), F.desc("total_incurred"))
    df = (df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))
    return df.where(~C.is_phantom_name(F.col("employee_name")))



def q_financial_validation(spark, sf):
    """C10 — $0.02-tolerance total check + non-negativity, error strings
    per failure (reference backend/insurance_extractor.py:1265-1303)."""
    from pyspark.sql.types import (DoubleType, StringType, StructField,
                                   StructType)
    schema = StructType(
        [StructField("claim_number", StringType())]
        + [StructField(c, DoubleType()) for c in _FINVAL_COLS[1:]])
    df = spark.createDataFrame([tuple(r) for r in _FINVAL_VALUES], schema)
    return (df.withColumn("validation_errors",
                          C.financial_validation_errors())
            .select("claim_number",
                    F.array_join("validation_errors", "; ")
                     .alias("errors"),
                    (F.size("validation_errors") == 0)
                     .alias("financially_valid")))


# --- documents: text analysis ----------------------------------------------

def q_doc_stats(spark, sf):
    """A8 char totals + C13 token counting (merged) per source:
    whitespace tokens, chars/4 estimate, and the BPE-ish-regex count
    (task brief: 'token counting (whitespace + a BPE-ish regex)')."""
    docs = _t(spark, sf, "documents")
    return (docs
            .withColumn("n_tokens",
                        F.size(F.split(F.col("text"), r"\s+")).cast("long"))
            .withColumn("est_tokens", C.token_estimate(F.col("text")))
            .withColumn("bpe_tokens", C.bpe_ish_token_count(F.col("text")))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars"),
                 F.sum("n_chars").alias("total_nchars"),
                 F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
                 F.sum("n_tokens").alias("sum_tokens"),
                 F.sum("est_tokens").alias("sum_est_tokens"),
                 F.sum("bpe_tokens").alias("sum_bpe_tokens")))


def q_quality_score(spark, sf):
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    words = F.split(F.col("text"), r"\s+")
    n_words = F.size(words)
    stop_hits = F.size(F.filter(words, lambda w: w.isin(_STOPWORDS)))
    stop_ratio = F.round(stop_hits / n_words, 4)
    avg_word_len = F.round((F.length("text") - (n_words - 1)) / n_words, 4)
    score = F.round(F.lit(1.0)
                    - F.when(n_words < 30, 0.3).otherwise(0.0)
                    - F.when(stop_ratio < 0.02, 0.3).otherwise(0.0)
                    - F.when(avg_word_len < 3.0, 0.2).otherwise(0.0), 2)
    # punctuation fraction (task-brief quality signal) + repeated-line
    # fraction (boilerplate/template indicator at corpus scale)
    punct_ratio = F.round(
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
        / F.length("text"), 4)
    lines = F.split(F.col("text"), "\n")
    dup_line_ratio = F.round(
        F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines), 4)
    return docs.select("doc_id", n_words.cast("long").alias("n_words"),
                       stop_ratio.alias("stop_ratio"),
                       avg_word_len.alias("avg_word_len"),
                       punct_ratio.alias("punct_ratio"),
                       dup_line_ratio.alias("dup_line_ratio"),
                       score.alias("quality_score"))


def q_lang_id(spark, sf):
    docs = _t(spark, sf, "documents")
    pad = F.concat(F.lit(" "), F.col("text"), F.lit(" "))

    def hits(word):
        return F.size(F.split(pad, f" {word} ")) - 1
    en, es, de, fr = (hits(w) for w in ("the", "el", "der", "le"))
    guess = (F.when((en > 0) & (en >= es) & (en >= de) & (en >= fr), "en")
             .when((es > 0) & (es >= de) & (es >= fr), "es")
             .when((de > 0) & (de >= fr), "de")
             .when(fr > 0, "fr")
             .otherwise("unknown"))
    return (docs.withColumn("lang_guess", guess)
            .groupBy("lang", "lang_guess")
            .agg(F.count("*").alias("n")))


def q_fingerprint(spark, sf):
    """Exact fingerprint (normalized md5) + winnowing rolling-hash
    fingerprint count (funcs.winnow_fingerprints; k=8, w=4) — both
    oracle-recomputed."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return docs.select(
        "doc_id", F.md5(norm).alias("fingerprint"),
        F.size(C.winnow_fingerprints("text")).cast("int")
         .alias("n_winnow"))


def q_dedup_exact(spark, sf):
    docs = _t(spark, sf, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return (docs.withColumn("fingerprint", F.md5(norm))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("copies"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .groupBy()
            .agg(F.count("*").alias("distinct_docs"),
                 F.sum(F.when(F.col("copies") > 1, 1).otherwise(0))
                  .alias("dup_groups")))


def _corpus_with_twins(spark, sf):
    """documents ∪ a tail-chopped twin of each — near-dups by construction."""
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    twin = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.slice(words, 1, F.size(words) - 1), " ").alias("text"))
    return docs.unionByName(twin)


# MinHash/LSH core lives in the package (insurance_pdf_extractor_spark/
# dedup.py) so the pipeline's opt-in dedup stage and tools/dedup_job.py
# share the ONE definition; the registry queries and DuckDB oracle
# builders below consume it from there.
from insurance_pdf_extractor_spark.dedup import (  # noqa: E402
    BAND_FREQ_CAP, LSH_BANDS, LSH_ROWS, MINHASH_PERMS, _MH_PRIME, _hex32,
    lsh_band_overflow, lsh_pairs_from_signatures,
    minhash_signatures_from_docs, shingles as _shingles,
    shingles_from_words as _shingles_from_words)
from insurance_pdf_extractor_spark.parallel import (  # noqa: E402
    cluster_by, spread_input)

SHINGLE_DF_CAP = 20     # shingles in > cap docs are stop-phrases: drop
                        # BEFORE the join (hot-key quadratic blowup at scale)


def _hex32_sql(col, offset):
    v = "CAST(0 AS BIGINT)"
    for i in range(8):
        a = f"ascii(substr({col}, {offset + i}, 1))"
        v = (f"({v} * 16 + (CASE WHEN {a} <= 57 THEN {a} - 48 "
             f"ELSE {a} - 87 END))")
    return v


def q_ngram_jaccard_pairs(spark, sf):
    """Near-dup pairs by 3-gram Jaccard ≥ 0.5 over the twin corpus.

    The shingle self-join is preceded by a document-frequency cap: any
    shingle present in more than SHINGLE_DF_CAP docs is a stop-phrase
    whose join group explodes quadratically at corpus scale. Sizes are
    computed on the capped shingle set so the Jaccard stays consistent."""
    corpus = _corpus_with_twins(spark, sf).where(
        (F.col("doc_id") % 1000) < 50)  # bound the pair join
    # guide §2.5 + split-once: spread a single-split scan across cores
    # and materialize the split so the shingle slices don't re-split
    # the document per argument site (see dedup.shingles_from_words)
    corpus = spread_input(corpus, key="doc_id")
    sh = (corpus.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
          .select("doc_id",
                  F.explode(_shingles_from_words(F.col("_w"), 3))
                  .alias("sh")))
    # window count (ONE shuffle on sh, exchange reused by both self-join
    # sides) instead of groupBy+join (two extra shuffles)
    sh = (sh.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
          .where(F.col("df") <= SHINGLE_DF_CAP).drop("df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pairs = (sh.alias("a").join(sh.alias("b"), "sh")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    out = (pairs
           .join(sizes.withColumnRenamed("doc_id", "doc_a")
                      .withColumnRenamed("n_sh", "na"), "doc_a")
           .join(sizes.withColumnRenamed("doc_id", "doc_b")
                      .withColumnRenamed("n_sh", "nb"), "doc_b")
           .withColumn("jaccard",
                       F.round(F.col("inter")
                               / (F.col("na") + F.col("nb") - F.col("inter")),
                               4))
           .where(F.col("jaccard") >= 0.5)
           .select("doc_a", "doc_b", "jaccard"))
    return out


def q_minhash_signatures(spark, sf):
    """64-perm MinHash over the twin corpus; banding in
    q_lsh_band_pairs groups the columns 4-per-band."""
    corpus = _corpus_with_twins(spark, sf).where(
        (F.col("doc_id") % 1000) < 50)
    return minhash_signatures_from_docs(corpus)


def q_lsh_band_pairs(spark, sf):
    """LSH candidate pairs, self-contained for the oracle gate (the
    signature subplan is recomputed inline; both self-join sides hash on
    the same key, so the exchange is reused within one execution)."""
    return lsh_pairs_from_signatures(q_minhash_signatures(spark, sf))


def simhash64_from_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → 64-bit SimHash signature table (16-hex-char
    fingerprint — BIGINT would overflow at bit 63): 64 bit-votes from
    two md5s per distinct token. One definition shared by the registry
    query and the bench's full-corpus signature staging."""
    # cluster_by: the 64-vote aggregation below is keyed by doc_id —
    # with the text hash-partitioned by id it plans without shuffling
    # the per-word vote rows (~12× the text bytes)
    w = cluster_by(docs, "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"))
    w = (w.withColumn("h1", F.md5(F.col("w")))
          .withColumn("h2", F.md5(F.concat(F.lit("x"), F.col("w")))))
    votes = []
    for i in range(64):
        src, pos = ("h1", i + 1) if i < 32 else ("h2", i - 31)
        votes.append(
            F.sum(F.when(F.ascii(F.substring(src, pos, 1)) % 2 == 1, 1)
                   .otherwise(-1)).alias(f"v{i:02d}"))
    agg = w.groupBy("doc_id").agg(*votes)
    nibbles = []
    for nib in range(16):
        val = F.lit(0)
        for j in range(4):
            bit = F.when(F.col(f"v{nib * 4 + j:02d}") > 0, 1).otherwise(0)
            val = val * 2 + bit
        nibbles.append(F.substring(F.lit("0123456789abcdef"), val + 1, 1))
    return agg.select("doc_id", F.concat(*nibbles).alias("simhash"))


def q_simhash64(spark, sf):
    """64-bit SimHash (VERDICT r1: 16-bit collides at corpus scale)."""
    return simhash64_from_docs(
        _t(spark, sf, "documents").where(F.col("doc_id") < 100))


# --- embeddings: similarity search ------------------------------------------

def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double")
                                 * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double")
                                        * x.cast("double")),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double")
                                        * x.cast("double")),
                            F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def q_ann_bruteforce(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"))
    # guide §2.5: the per-row cosine fold runs on the scan side of the
    # broadcast join — spread a single-split embeddings file over cores
    emb = spread_input(emb, key="vec_id")
    return (emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select("vec_id",
                    F.round(_cosine(F.col("embedding"), F.col("q_emb")), 4)
                     .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(5))


def q_ann_ivf_bucketed(spark, sf):
    """IVF-style: restrict search to the query's coarse bucket (label)."""
    emb = _t(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("label").alias("q_label"))
    emb = spread_input(emb, key="vec_id")   # guide §2.5, as bruteforce
    return (emb.where(F.col("vec_id") != 0).join(
                F.broadcast(q), F.col("label") == F.col("q_label"))
            .select("vec_id", "label",
                    F.round(_cosine(F.col("embedding"), F.col("q_emb")), 4)
                     .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(5))


def q_embedding_bucket_stats(spark, sf):
    # guide §2.5: the per-row norm fold is map-side work before the agg
    emb = spread_input(_t(spark, sf, "embeddings"), key="vec_id")
    return (emb.groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg(F.element_at("embedding", 1)
                               .cast("double")), 4).alias("avg_dim1"),
                 F.round(F.avg(F.sqrt(F.aggregate(
                     F.transform("embedding",
                                 lambda x: x.cast("double")
                                 * x.cast("double")),
                     F.lit(0.0), lambda acc, x: acc + x))), 4)
                  .alias("avg_norm")))


# --- text twins of extraction operators --------------------------------------

def q_text_line_ops(spark, sf):
    """T3 per-line reversal + F3 reversed predicate + F4 blank predicate
    + O3 truncation previews, merged into one per-doc query (keeps the
    registry inside the driver's grading window; each column is still an
    independent operator twin)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.md5(C.reverse_lines(F.col("text"))).alias("reversed_md5"),
        C.looks_reversed(F.col("text")).alias("is_rev"),
        (F.length(F.trim(F.col("text"))) < 10).alias("is_blank"),
        F.substring("text", 1, 100).alias("preview_start"),
        F.substring(F.col("text"), -50, 50).alias("preview_end"))


def q_best_record_per_group(spark, sf):
    docs = _t(spark, sf, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (docs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("lang", "source", "doc_id", "n_chars"))


def q_claim_id_regex(spark, sf):
    docs = _t(spark, sf, "documents")
    ids = F.regexp_extract_all(F.col("text"),
                               F.lit(r"\b(scan|hash|merge)\b"), F.lit(1))
    return (docs.select("doc_id", F.size(ids).cast("long").alias("n_ids"),
                        F.size(F.array_distinct(ids)).cast("long")
                         .alias("n_distinct")))


# --- more extraction twins: rotation vote, forward fill, windows, F5 --------

# (page_no, x0, y0, x1, y1) text-block boxes; pages 1-2 vertical-dominant
_BOX_VALUES = [
    (1, 10.0, 10.0, 20.0, 90.0), (1, 30.0, 10.0, 40.0, 80.0),
    (1, 10.0, 100.0, 80.0, 112.0),
    (2, 5.0, 5.0, 15.0, 60.0), (2, 20.0, 5.0, 30.0, 70.0),
    (3, 10.0, 10.0, 90.0, 22.0), (3, 10.0, 30.0, 70.0, 42.0),
]


def q_rotation_vote(spark, sf):
    """A5/T8 relational twin: vertical-vs-horizontal bbox vote per page
    (reference backend/pdf_rotation.py:5-23)."""
    df = _values_df(spark, _BOX_VALUES, ["page_no", "x0", "y0", "x1", "y1"])
    h = F.abs(F.col("y1") - F.col("y0"))
    w = F.abs(F.col("x1") - F.col("x0"))
    agg = (df.groupBy("page_no")
           .agg(F.sum(F.when(h > w, 1).otherwise(0)).alias("vertical_boxes"),
                F.sum(F.when(h <= w, 1).otherwise(0))
                 .alias("horizontal_boxes")))
    return agg.withColumn(
        "rotate_deg",
        F.when(F.col("vertical_boxes") > F.col("horizontal_boxes"), 90)
         .otherwise(0))


_LINE_VALUES = [
    (1, "Loss run report"), (2, "Policy Number: AAA-1"),
    (3, "claim row one"), (4, "claim row two"),
    (5, "Policy Number: BBB-2"), (6, "claim row three"),
    (7, "trailer text"),
]


def q_policy_forward_fill(spark, sf):
    """G1/W2 relational twin: header spotting + window forward-fill
    (reference backend/chunked_extractor.py:112-121)."""
    df = _values_df(spark, _LINE_VALUES, ["line_no", "line"])
    pol = F.nullif(
        F.regexp_extract("line", r"Policy Number: ([A-Z0-9\-]+)", 1),
        F.lit(""))
    w = (Window.orderBy("line_no")
         .rowsBetween(Window.unboundedPreceding, 0))
    return df.select(
        "line_no", "line",
        F.last(pol, ignorenulls=True).over(w).alias("policy_number"))


def q_chunk_windows(spark, sf):
    """G2 — fixed-size overlapping windows (size 100, stride 80)
    (reference backend/insurance_extractor.py:551-574 fallback)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 20)
    # empty-text guard: sequence(1, 0, 80) throws in Spark while DuckDB's
    # range(1, 1, 80) is empty — make both empty
    starts = F.when(F.length("text") > 0,
                    F.sequence(F.lit(1), F.length("text"), F.lit(80))
                    ).otherwise(F.array().cast("array<int>"))
    return (docs.select("doc_id", F.explode(starts).alias("start"),
                        F.col("text"))
            .select("doc_id", F.col("start").cast("long").alias("start"),
                    F.substring(F.col("text"), F.col("start"), 100)
                     .alias("chunk"))
            .withColumn("chunk_len", F.length("chunk").cast("long")))



def q_windowed_event_counts(spark, sf):
    """Tumbling-window aggregation (Structured Streaming's windowed-agg
    shape, run on the batch table): 1-hour windows over events.ts. The
    streaming variant (readStream + watermark) shares this exact plan —
    see insurance_pdf_extractor_spark/streaming.py."""
    ev = _t(spark, sf, "events")
    w = F.window("ts", "1 hour")
    return (ev.groupBy(w.alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.unix_timestamp(F.col("w.start")).alias("win_start"),
                    "event_type", "n", "sum_value"))


def q_sessionize_events(spark, sf):
    """Gap-based sessionization (30-min inactivity closes a session) —
    the batch twin of the applyInPandasWithState streaming operator in
    insurance_pdf_extractor_spark/streaming.py. Classic two-window shape:
    lag → new-session flag → running sum → per-session agg."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_timestamp("ts")).over(w)
    gap = F.unix_timestamp("ts") - prev
    new_sess = F.when(prev.isNull() | (gap > 1800), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sess = (ev.withColumn("session_no",
                          F.sum(new_sess).over(cum).cast("int")))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.min(F.unix_timestamp("ts")).alias("start_s"),
                 F.max(F.unix_timestamp("ts")).alias("end_s"))
            .withColumn("duration_s",
                        (F.col("end_s") - F.col("start_s")).cast("long")))


def q_latest_snapshot_per_url(spark, sf):
    """Common-Crawl snapshot dedup: multiple (url, warc_ts) captures of
    the same page → keep the latest (CDX-style). Corpus = documents with
    a re-crawl twin one day later."""
    docs = _t(spark, sf, "documents").select(
        F.concat(F.lit("https://t.local/doc/"), F.col("doc_id"))
         .alias("url"),
        "doc_id", "n_chars")
    snaps = (docs.select("url", "doc_id", "n_chars",
                         (F.lit(1704067200) + F.col("doc_id"))
                         .alias("warc_ts_s"))
             .unionByName(
                 docs.where(F.col("doc_id") % 3 == 0)
                 .select("url", "doc_id", "n_chars",
                         (F.lit(1704067200 + 86400) + F.col("doc_id"))
                         .alias("warc_ts_s"))))
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts_s"))
    return (snaps.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("url", "doc_id",
                    F.col("warc_ts_s").cast("long").alias("warc_ts_s"),
                    "n_chars"))


_URL_VALUES = [
    "HTTPS://Example.COM:443/Path/To/Page/?b=2&a=1#frag",
    "http://example.com:80/index.html",
    "https://sub.Example.org/a//b/",
    "http://xn--test.de/umlaut",
    "https://example.com",
    "ftp://files.example.net/pub/file.txt",
    "https://EXAMPLE.com/Path/?",
]


def q_url_normalize(spark, sf):
    """URL canonicalization for web-corpus keying: lowercase scheme+host,
    strip default ports, drop fragments and trailing '?', extract
    registrable host."""
    df = _values_df(spark, [(u,) for u in _URL_VALUES], ["url"])
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    rest = F.regexp_replace("url", r"^[A-Za-z]+://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    host = F.regexp_replace(hostport, r":\d+$", "")
    path = F.regexp_extract(rest, r"^[^/?#]+([^#]*)", 1)
    canon_port = F.when(
        (scheme == "http") & hostport.endswith(":80"), host).when(
        (scheme == "https") & hostport.endswith(":443"), host).otherwise(
        hostport)
    canon = F.concat(scheme, F.lit("://"), canon_port,
                     F.regexp_replace(path, r"\?$", ""))
    return df.select(
        "url", scheme.alias("scheme"), host.alias("host"),
        canon.alias("canonical"))


CHUNK_TARGET = 100   # chars per chunk (= 25 est. tokens at 4 chars/token;
                     # the reference targets 6000 tokens — scaled to the
                     # testdata doc sizes so the planner actually splits)
CHUNK_OVERLAP = 20   # reference default_overlap=300 chars, scaled


def q_chunk_plan(spark, sf):
    """G2 — dynamic chunk PLANNING, boundary-aware with overlap
    (reference insurance_extractor.py:432-545): the reference asks an LLM
    for split positions at natural boundaries; this twin snaps each
    fixed-size split target to the LAST natural boundary (whitespace) in
    its bucket — deterministic and STATELESS (no serial greedy walk), so
    the plan is embarrassingly parallel per doc at corpus scale. Small
    docs pass through as a single 'no_chunking_needed' chunk
    (reference :444-452)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 20)         .select("doc_id", "text", F.length("text").alias("n"))
    small = docs.where(F.col("n") <= CHUNK_TARGET).select(
        "doc_id", F.lit(0).alias("chunk_id"),
        F.lit(1).alias("start"), F.col("n").cast("int").alias("end"),
        F.lit("no_chunking_needed").alias("strategy"))

    big = docs.where(F.col("n") > CHUNK_TARGET)
    # candidate boundaries: 1-based positions of every space char,
    # derived from the word stream (posexplode + running length sum) —
    # one row per WORD, not per char; identical positions to a char scan
    # (empty words from repeated/leading spaces advance the sum by 1, so
    # every space is accounted for; the phantom boundary after the last
    # word is filtered by idx)
    words = F.split("text", " ")
    ex = big.select("doc_id", "n", F.size(words).alias("nw"),
                    F.posexplode(words).alias("i", "w"))
    wcum = (Window.partitionBy("doc_id").orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0))
    pos = (ex.withColumn("p", F.sum(F.length("w") + 1).over(wcum))
           .where(F.col("i") < F.col("nw") - 1)
           .select("doc_id", "n", "p"))
    # bucket k = ceil(p / target); split for bucket k = last boundary at or
    # before k*target; buckets touching the doc tail produce no split
    pos = pos.withColumn(
        "bucket", F.ceil(F.col("p") / CHUNK_TARGET).cast("int"))
    splits = (pos.groupBy("doc_id", "n", "bucket")
              .agg(F.max("p").alias("split"))
              .where(F.col("bucket") < F.ceil(F.col("n") / CHUNK_TARGET)))
    w = Window.partitionBy("doc_id").orderBy("split")
    chunks = splits.select(
        "doc_id", "n",
        (F.row_number().over(w) - 1).alias("chunk_id"),
        F.greatest(F.lit(1),
                   F.coalesce(F.lag("split").over(w) + 1 - CHUNK_OVERLAP,
                              F.lit(1))).alias("start"),
        F.col("split").cast("int").alias("end"))
    # final chunk: from the last split (minus overlap) to the doc end
    finals = (splits.groupBy("doc_id", "n")
              .agg(F.max("split").alias("last_split"),
                   F.count("*").alias("n_splits"))
              .select("doc_id",
                      F.col("n_splits").cast("int").alias("chunk_id"),
                      F.greatest(F.lit(1), F.col("last_split") + 1
                                 - CHUNK_OVERLAP).cast("int").alias("start"),
                      F.col("n").cast("int").alias("end"),
                      F.lit("boundary_aware").alias("strategy")))
    body = chunks.select("doc_id", "chunk_id",
                         F.col("start").cast("int").alias("start"), "end",
                         F.lit("boundary_aware").alias("strategy"))
    # big doc with NO boundary before its tail bucket: one whole-doc chunk
    # (reference falls back to generous-overlap splitting when no clear
    # boundaries exist; a doc must never vanish from the plan)
    nosplit = (big.join(splits.select("doc_id").distinct(), "doc_id",
                        "left_anti")
               .select("doc_id", F.lit(0).alias("chunk_id"),
                       F.lit(1).alias("start"),
                       F.col("n").cast("int").alias("end"),
                       F.lit("no_boundaries").alias("strategy")))
    out = small.unionByName(body).unionByName(finals).unionByName(nosplit)
    return out.withColumn("chunk_len",
                          (F.col("end") - F.col("start") + 1).cast("int"))


def q_chunk_integrity(spark, sf):
    """G4 — chunking integrity report: per doc, chunk count, char totals,
    full-coverage + overlap checks, and a preview (reference's chunk
    report, insurance_extractor.py:576-589 prints id/size/preview per
    chunk)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 20) \
        .select("doc_id", F.length("text").alias("n"),
                F.substring("text", 1, 40).alias("first_chunk_preview"))
    plan = q_chunk_plan(spark, sf)
    agg = (plan.groupBy("doc_id")
           .agg(F.count("*").alias("n_chunks"),
                F.sum("chunk_len").cast("long").alias("total_chunk_chars"),
                F.min("start").alias("min_start"),
                F.max("end").alias("max_end"),
                F.max(F.col("strategy")).alias("strategy")))
    return (agg.join(docs, "doc_id")
            .select("doc_id", "n_chunks", "total_chunk_chars", "strategy",
                    ((F.col("min_start") == 1) & (F.col("max_end")
                                                  == F.col("n")))
                    .alias("covers_doc"),
                    # overlap chars = chunk chars beyond the doc length
                    (F.col("total_chunk_chars") - F.col("n")).cast("long")
                    .alias("overlap_chars"),
                    "first_chunk_preview"))


def q_slug_session(spark, sf):
    """C12 — slug/session-id generation twin (reference
    insurance_extractor.py:1530-1531: basename, spaces+dots -> '_',
    20-char cap, timestamp prefix)."""
    docs = _t(spark, sf, "documents").where(F.col("doc_id") < 50)
    base = F.concat(F.lit("Loss Run "), F.col("source"), F.lit(" "),
                    F.col("doc_id"), F.lit(".pdf"))
    slug = F.substring(
        F.translate(base, " .", "__"), 1, 20)
    ts = F.date_format(
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")),
        "yyyyMMdd_HHmmss")
    return docs.select(
        "doc_id", base.alias("filename"), slug.alias("file_slug"),
        F.concat(ts, F.lit("_"), slug).alias("session_id"))


# §2.12 format-analysis fixture: one text per layout family
_FMT_VALUES = [
    ("d1", "Claim# Employee Status Med Paid Med Resv Ind Paid Ind Resv "
           "Exp Paid Total Incurred\n123 Smith OPEN 10 5 0 0 1 16"),
    ("d2", "CLAIM 9910 JONES\nReserves 100 50 10\nPayments 30 20 5\n"
           "Incurred 130 70 15"),
    ("d3", "Dear customer, this letter confirms your policy renewal."),
    ("d4", "summary table\nInd Paid | Med Paid | Total\n5 | 10 | 15"),
    ("d5", "Payments schedule attached."),  # one label only -> unknown
]


def q_format_analysis(spark, sf):
    """§2.12 STAGE-1 format analysis, deterministic twin (reference
    insurance_extractor.py:591-656 asks GPT-4o; the classifier locks in
    the prompt's own taxonomy): >=2 simple-column header keywords ->
    simple_columns; else both multi-row anchors (Payments AND Reserves)
    -> complex_multi_row; else unknown."""
    df = _values_df(spark, _FMT_VALUES, ["doc", "text"])
    up = F.upper(F.col("text"))
    kw = ["MED PAID", "MED RESV", "IND PAID", "IND RESV", "EXP PAID",
          "TOTAL INCURRED"]
    hits = sum((F.when(up.contains(k), 1).otherwise(0) for k in kw),
               F.lit(0))
    multirow = up.contains("PAYMENTS") & up.contains("RESERVES")
    fmt = (F.when(hits >= 2, "simple_columns")
            .when(multirow, "complex_multi_row")
            .otherwise("unknown"))
    return df.select("doc", hits.cast("int").alias("keyword_hits"),
                     multirow.alias("has_multirow_anchors"),
                     fmt.alias("format_type"))


# claim-number discovery fixture: one line per rule
# (reference insurance_extractor.py:180-216; engine twin:
# insurance_pdf_extractor_spark/fields.py discover_line_claim)
_DISCOVERY_LINES = [
    (1, "Policy Number: CRWC8821004"),
    (2, "44070643  Chen, Wei  2021-03-04"),
    (3, "Converted # AB-778899  Patel, Raj  05/06/2019"),
    (4, "Converted # SWC4455667  Kim, Grace  2020-01-01"),
    (5, "Claim # W12IN34567 Silva, Ana 2022-02-02"),
    (6, "Policy Number: CRWC8821004"),
    (7, "ref 99887766 archived"),
    (8, "Claim # 12345678 Garcia, Carlos 2020-05-05"),
    (9, "Claim # 12345678 Tanaka, Hiro 2020-06-06"),
    (10, "Claim # 555666B Novak, Pavel 2019-09-09"),
]
_DISC_POLICY_PAT = r"(?i)Policy\s*(Number|#|No)|Pol\s*#"
_DISC_CONV_PAT = r"Converted\s*#\s*:?\s*([A-Z0-9][A-Z0-9\-]{2,})"
_DISC_CLAIM_PAT = r"Claim(?:\s*Number|#)?\s*[:#]?\s*([A-Z]?\d[A-Z0-9\-]{3,})"
_DISC_HOME_PAT = r"\b(\d{8})\b"
_DISC_NAME_PAT = r"([A-Z][a-z]+, [A-Z][a-z]+)"
_DISC_DATE_PAT = r"\b(\d{4}-\d{2}-\d{2}|\d{2}/\d{2}/\d{4})\b"


def q_claim_discovery(spark, sf):
    """Discovery-rule twin (reference insurance_extractor.py:180-216):
    per line the chosen candidate token + the rule that accepted or
    excluded it. Precedence: policy-labeled line → no candidate;
    ``Converted #`` capture; ``Claim #`` label; bare 8-digit Homestates
    id gated on incident context (name or date). CRWC/SWC/TWC prefixes
    are blacklisted; a token paired with >1 distinct employee name is a
    policy number (the GOLDEN RULE) — both excluded."""
    df = _values_df(spark, _DISCOVERY_LINES, ["line_no", "line"])
    policy = F.col("line").rlike(_DISC_POLICY_PAT)
    conv = F.nullif(F.regexp_extract("line", _DISC_CONV_PAT, 1), F.lit(""))
    clm = F.nullif(F.regexp_extract("line", _DISC_CLAIM_PAT, 1), F.lit(""))
    home = F.nullif(F.regexp_extract("line", _DISC_HOME_PAT, 1), F.lit(""))
    name = F.nullif(F.regexp_extract("line", _DISC_NAME_PAT, 1), F.lit(""))
    incident = name.isNotNull() | F.col("line").rlike(_DISC_DATE_PAT)
    token = (F.when(policy, F.lit(None).cast("string"))
             .when(conv.isNotNull(), conv)
             .when(clm.isNotNull(), clm)
             .when(incident, home))
    base_rule = (F.when(policy, F.lit("policy_label"))
                 .when(conv.isNotNull(), F.lit("converted"))
                 .when(clm.isNotNull(), F.lit("claim_label"))
                 .when(incident & home.isNotNull(),
                       F.lit("homestates_8digit"))
                 .otherwise(F.lit("no_candidate")))
    d = df.select(F.col("line_no").cast("int").alias("line_no"),
                  token.alias("token"), base_rule.alias("base_rule"),
                  name.alias("name"))
    # GOLDEN-RULE count: distinct incident names per token (groupBy+join,
    # not a window — DuckDB has no DISTINCT window aggregate, and the
    # twin must share the shape)
    names = (d.where(F.col("token").isNotNull())
             .groupBy("token")
             .agg(F.countDistinct("name").alias("n_names")))
    d = d.join(names, "token", "left")
    black = (F.upper("token").startswith("CRWC")
             | F.upper("token").startswith("SWC")
             | F.upper("token").startswith("TWC"))
    rule = (F.when(F.col("token").isNull(), F.col("base_rule"))
            .when(black, F.lit("blacklist"))
            .when(F.col("n_names") > 1, F.lit("repeated_number"))
            .otherwise(F.col("base_rule")))
    return d.select(
        "line_no", "token", rule.alias("rule"),
        rule.isin("converted", "claim_label", "homestates_8digit")
            .alias("is_claim"))


def _claim_discovery_sql() -> str:
    vals = _values_sql(_DISCOVERY_LINES, ["line_no", "line"])
    return f"""
            WITH base AS (
              SELECT CAST(line_no AS INT) AS line_no, line,
                     regexp_matches(line, '{_DISC_POLICY_PAT}') AS policy,
                     nullif(regexp_extract(line,
                         'Converted\\s*#\\s*:?\\s*([A-Z0-9][A-Z0-9\\-]{{2,}})',
                         1), '') AS conv,
                     nullif(regexp_extract(line,
                         'Claim(?:\\s*Number|#)?\\s*[:#]?\\s*([A-Z]?\\d[A-Z0-9\\-]{{3,}})',
                         1), '') AS clm,
                     nullif(regexp_extract(line, '\\b(\\d{{8}})\\b', 1), '')
                         AS home,
                     nullif(regexp_extract(line,
                         '([A-Z][a-z]+, [A-Z][a-z]+)', 1), '') AS name,
                     regexp_matches(line,
                         '\\b(\\d{{4}}-\\d{{2}}-\\d{{2}}|\\d{{2}}/\\d{{2}}/\\d{{4}})\\b')
                         AS has_date
              FROM {vals}
            ), d AS (
              SELECT line_no,
                     CASE WHEN policy THEN NULL
                          WHEN conv IS NOT NULL THEN conv
                          WHEN clm IS NOT NULL THEN clm
                          WHEN (name IS NOT NULL OR has_date) THEN home
                     END AS token,
                     CASE WHEN policy THEN 'policy_label'
                          WHEN conv IS NOT NULL THEN 'converted'
                          WHEN clm IS NOT NULL THEN 'claim_label'
                          WHEN (name IS NOT NULL OR has_date)
                               AND home IS NOT NULL THEN 'homestates_8digit'
                          ELSE 'no_candidate' END AS base_rule,
                     name
              FROM base
            ), names AS (
              SELECT token, count(DISTINCT name) AS n_names
              FROM d WHERE token IS NOT NULL GROUP BY token
            ), ruled AS (
              SELECT d.line_no, d.token,
                     CASE WHEN d.token IS NULL THEN d.base_rule
                          WHEN starts_with(upper(d.token), 'CRWC')
                               OR starts_with(upper(d.token), 'SWC')
                               OR starts_with(upper(d.token), 'TWC')
                               THEN 'blacklist'
                          WHEN names.n_names > 1 THEN 'repeated_number'
                          ELSE d.base_rule END AS rule
              FROM d LEFT JOIN names ON d.token = names.token
            )
            SELECT line_no, token, rule,
                   rule IN ('converted', 'claim_label', 'homestates_8digit')
                       AS is_claim
            FROM ruled"""


# O5 fixture: (url, detected_csv, extracted_csv) — missing ids batch in 5s
_RETRY_VALUES = [
    ("u1", "11,12,13,14,15,16,17,18,19,20,21,22", "12,17,19,21"),
    ("u2", "31,32,33", "31,32,33"),
    ("u3", "41,42,43,44,45,46", ""),
]


def retry_plan(spark, sf):
    """O5 — batch-of-k retry planning (reference
    insurance_extractor.py:1019-1030): missing = detected − extracted
    claim ids, retried in batches of 5, max 2 attempts per batch.
    This is the ENGINE-SIDE variant: claim_ids is array<string>, the
    type a retry consumer iterates."""
    df = _values_df(spark, _RETRY_VALUES,
                    ["url", "detected_csv", "extracted_csv"])
    missing = F.array_sort(F.array_except(
        F.split("detected_csv", ","),
        F.when(F.col("extracted_csv") == "", F.array().cast("array<string>"))
         .otherwise(F.split("extracted_csv", ","))))
    ex = (df.select("url", F.posexplode(missing).alias("idx", "claim_id")))
    return (ex.withColumn("batch_no",
                          F.floor(F.col("idx") / 5).cast("int"))
            .groupBy("url", "batch_no")
            .agg(F.array_sort(F.collect_list("claim_id"))
                  .alias("claim_ids"),
                 F.count("*").alias("batch_size"))
            .withColumn("max_retries", F.lit(2)))


def q_retry_batches(spark, sf):
    """Oracle rendering of :func:`retry_plan`: claim_ids flattened to a
    CSV string because the driver's value-hash compare is only proven
    for scalar columns."""
    return retry_plan(spark, sf).withColumn(
        "claim_ids", F.array_join("claim_ids", ","))


def q_micro_ops(spark, sf):
    """C12 slug/session + §2.12 format analysis + O5 retry batching +
    F5 watermark detection in ONE graded query (VERDICT r4 item 3 /
    r5 item 1 — merged so the 50-slot registry frees room for
    pq_ivfpq_topk / dedup_verdict / scrub_ops). Same pattern as
    field_normalize: one row per (kind, key); the typed columns a kind
    doesn't produce stay NULL (the watermark kind's verdict IS its
    key)."""
    def aligned(df, kind, key, **cols):
        typed = {
            "filename": F.lit(None).cast("string"),
            "file_slug": F.lit(None).cast("string"),
            "session_id": F.lit(None).cast("string"),
            "keyword_hits": F.lit(None).cast("int"),
            "has_multirow_anchors": F.lit(None).cast("boolean"),
            "format_type": F.lit(None).cast("string"),
            "claim_ids": F.lit(None).cast("string"),
            "batch_size": F.lit(None).cast("long"),
            "max_retries": F.lit(None).cast("int"),
        }
        typed.update(cols)
        return df.select(F.lit(kind).alias("kind"), key.alias("key"),
                         *[e.alias(k) for k, e in typed.items()])
    return (
        aligned(q_slug_session(spark, sf), "slug",
                F.col("doc_id").cast("string"),
                filename=F.col("filename"),
                file_slug=F.col("file_slug"),
                session_id=F.col("session_id"))
        .unionByName(aligned(
            q_format_analysis(spark, sf), "format", F.col("doc"),
            keyword_hits=F.col("keyword_hits"),
            has_multirow_anchors=F.col("has_multirow_anchors"),
            format_type=F.col("format_type")))
        .unionByName(aligned(
            q_retry_batches(spark, sf), "retry",
            F.concat(F.col("url"), F.lit("#"),
                     F.col("batch_no").cast("string")),
            claim_ids=F.col("claim_ids"),
            batch_size=F.col("batch_size"),
            max_retries=F.col("max_retries")))
        .unionByName(aligned(
            q_watermark_detect(spark, sf), "watermark", F.col("line"))))


#: PQ geometry for the graded ADC query: dim 8, m=4 slices of sub=2,
#: 4 buckets per slice. Codebook centroids and codes are DETERMINISTIC
#: ARITHMETIC over (slice, bucket, vec_id) so DuckDB can reconstruct the
#: exact same index — the operator under grade is the ADC scoring path
#: (codes posexplode → broadcast distance-table join → per-id sum →
#: top-k), i.e. ann.pq_topk's query phase verbatim.
_PQ_M, _PQ_SUB, _PQ_K = 4, 2, 4
_PQ_QVEC = [0.3, 0.1, 0.5, 0.4, 0.2, 0.6, 0.7, 0.0]


def _pq_centroid(s: int, b: int) -> list[float]:
    return [0.1 * (s + 1) + 0.25 * b, 0.2 * (b + 1) - 0.05 * s]


#: coarse-IVF fixture geometry for the composed query: 4 coarse buckets,
#: deterministic assignment bucket = vec_id % 4, centroids DETERMINISTIC
#: ARITHMETIC over (bucket, dim) so DuckDB reconstructs the same coarse
#: ranking the real ivfpq_topk computes.
_IVF_NB = 4


def _ivf_centroid(b: int) -> list[float]:
    return [0.2 * b + 0.1 * (d + 1) for d in range(_PQ_M * _PQ_SUB)]


def q_pq_ivfpq_topk(spark, sf):
    """Two graded ANN query phases, kind-tagged (VERDICT r5 item 5):

    - kind='adc': asymmetric-distance top-10 over a PQ codes table via
      the REAL query-phase operator (:func:`ann.pq_topk` — reads codes,
      never vectors, no re-encoding). Codes per vec: codes[s] = (vec_id
      + (vec_id % 7)·(s+1) + s) mod 4.
    - kind='ivfpq': the COMPOSED :func:`ann.ivfpq_topk` end-to-end —
      coarse centroid ranking → top-2 bucket left-semi prune → ADC over
      just those buckets' stored codes — on the same codes fixture with
      a deterministic bucket assignment (vec_id % 4) and arithmetic
      coarse centroids, so the whole composition is DuckDB-expressible.
    - kind='refined' (r7, VERDICT r6 item 5): the same composed query
      with ``refine=50`` — ADC shortlists 50 candidates, their FULL
      vectors (the first 8 dims of the real embeddings — the fixture
      codes are 8-dim) are fetched by broadcast semi-join and re-scored
      exactly; result carries exact_dist instead of approx_dist.
    """
    from insurance_pdf_extractor_spark.ann import ivfpq_topk, pq_topk
    emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 500)
    codes = emb.select("vec_id", F.array(*[
        ((F.col("vec_id") + (F.col("vec_id") % 7) * (s + 1) + s)
         % _PQ_K).cast("int")
        for s in range(_PQ_M)]).alias("codes"))
    books = spark.createDataFrame(
        [(s, b, _pq_centroid(s, b))
         for s in range(_PQ_M) for b in range(_PQ_K)],
        "slice_no int, bucket int, centroid array<double>")
    adc = pq_topk(codes, books, _PQ_QVEC, k=10)
    cents = spark.createDataFrame(
        [(b, _ivf_centroid(b)) for b in range(_IVF_NB)],
        "bucket int, centroid array<double>")
    index = codes.withColumn(
        "bucket", (F.col("vec_id") % _IVF_NB).cast("int"))
    comp = ivfpq_topk(index, cents, books, _PQ_QVEC, k=10, n_probes=2)
    emb8 = emb.select("vec_id", F.slice("embedding", 1, _PQ_M * _PQ_SUB)
                      .alias("embedding"))
    refined = ivfpq_topk(index, cents, books, _PQ_QVEC, k=10,
                         n_probes=2, refine=50, emb=emb8)
    nd = F.lit(None).cast("double")
    return (adc.select(F.lit("adc").alias("kind"), "vec_id",
                       "approx_dist", nd.alias("exact_dist"))
            .unionByName(comp.select(F.lit("ivfpq").alias("kind"),
                                     "vec_id", "approx_dist",
                                     nd.alias("exact_dist")))
            .unionByName(refined.select(F.lit("refined").alias("kind"),
                                        "vec_id",
                                        nd.alias("approx_dist"),
                                        "exact_dist")))


#: candidate-pair fixture for the graded keeper election: a diameter-6
#: chain (needs several star rounds to converge), a triangle, a plain
#: pair, and a star with edges written in both orientations.
_DEDUP_PAIRS = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
                (10, 11), (11, 12), (10, 12),
                (20, 21),
                (30, 31), (32, 31), (33, 30)]


def q_dedup_verdict(spark, sf):
    """G5/dedup keeper election via the real clustering operator
    (:func:`dedup.dedup_documents`, small-star/large-star connected
    components) over a fixed candidate-pair fixture on documents
    doc_id < 40. cluster_id = min reachable id, keeper = min id per
    cluster, singletons kept — must agree row-for-row with the oracle's
    recursive-CTE transitive closure."""
    from insurance_pdf_extractor_spark.dedup import dedup_documents
    docs = (_t(spark, sf, "documents").where(F.col("doc_id") < 40)
            .select("doc_id"))
    pairs = _values_df(spark, _DEDUP_PAIRS, ["doc_a", "doc_b"])
    return dedup_documents(docs, pairs)


_WM_VALUES = [
    (1, "CONFIDENTIAL"), (1, "body line one"), (1, "xx"),
    (2, "CONFIDENTIAL"), (2, "body line two"), (2, "xx"),
    (3, "CONFIDENTIAL"), (3, "body line three"), (3, "xx"),
]


def q_watermark_detect(spark, sf):
    """F5 twin — lines (len ≥ 4) present on every page are watermarks.

    Fully lazy: the total page count is a broadcast 1-row agg joined into
    the plan, not a driver-side action at builder time."""
    df = _values_df(spark, _WM_VALUES, ["page_no", "line"])
    totals = df.agg(F.countDistinct("page_no").alias("_total_pages"))
    return (df.where(F.length("line") >= 4)
            .groupBy("line")
            .agg(F.countDistinct("page_no").alias("n_pages"))
            .join(F.broadcast(totals))
            .where(F.col("n_pages") == F.col("_total_pages"))
            .select("line"))


#: PII fixture: every pattern type, plus the two overlap traps the
#: most-specific-first ordering exists for (an SSN that a phone pattern
#: could half-eat; a 16-digit card that contains phone-shaped runs).
_PII_VALUES = [
    (1, "Contact Jane Doe at jane.doe+claims@example.com or call "
        "555-123-4567."),
    (2, "SSN 123-45-6789 on file; backup phone (415) 555-0199."),
    (3, "Card 4111 1111 1111 1111 charged from 192.168.1.100."),
    (4, "No sensitive data here, just a claim for $1,200."),
    (5, "Two emails: a@b.co and x_y%z@mail.example.org; ip 10.0.0.1."),
    (6, "Overlap: 123-45-6789 is an SSN, not the phone 123-456-7890."),
    (7, "Card without separators 4111111111111111 and 1-800-555-0123 "
        "hotline."),
]


#: paragraph-dedup fixture: a cookie banner + footer repeated across
#: docs (the boilerplate the operator exists for), a line repeated twice
#: WITHIN one doc (corpus-wide count 2 ⇒ dropped), a doc that is all
#: boilerplate (⇒ empty string), whitespace-only separator lines (never
#: counted as duplicates), and a trailing-newline empty paragraph.
_PARA_VALUES = [
    (1, "We use cookies to improve your experience.\nAlpha unique "
        "paragraph one.\n \nAlpha unique paragraph two.\n"
        "(c) 2024 Example Corp. All rights reserved."),
    (2, "We use cookies to improve your experience.\nBeta keeps this "
        "line.\n(c) 2024 Example Corp. All rights reserved."),
    (3, "We use cookies to improve your experience.\n"
        "(c) 2024 Example Corp. All rights reserved."),
    (4, "Twice in one doc.\nMiddle content stays.\nTwice in one doc.\n"),
    (5, "Entirely unique document with a single paragraph."),
]


def q_scrub_ops(spark, sf):
    """PII scrubbing + Gopher repetition screening in ONE graded query
    (VERDICT r5 item 1 — the component COVERAGE.md promised), kind-
    tagged like micro_ops:

    - kind='pii': :func:`scrub.scrub_pii` over the PII fixture — the
      scrubbed text plus the per-type counts flattened from the
      ``pii_counts`` map (chained JVM regexp ops, most-specific-first).
    - kind='ngram': :func:`scrub.repeated_ngram_stats` over documents
      doc_id < 200 — the most frequent word 2-gram per doc and the
      fraction of characters it covers (the template/spam signal).
    - kind='paradedup' (r6): :func:`dedup.dedup_paragraphs` over the
      boilerplate fixture — CCNet-style corpus-wide line dedup; the
      reassembled text rides the text_scrubbed column, plus per-doc
      paras_total / paras_dropped.
    - kind='gopher' (r7): :func:`scrub.gopher_repetition_stats` over
      the same documents subset — duplicate-line fraction/char
      fraction and duplicated-n-gram char coverage for n=5..10 (the
      rest of the Gopher §A1.1 family, VERDICT r6 item 4).
    """
    from insurance_pdf_extractor_spark.dedup import dedup_paragraphs
    from insurance_pdf_extractor_spark.scrub import (
        GOPHER_DUP_NGRAM_NS, PII_PATTERNS, gopher_repetition_stats,
        repeated_ngram_stats, scrub_pii)
    names = [n for n, _, _ in PII_PATTERNS]
    gcols = (["dup_line_frac", "dup_line_char_frac"]
             + [f"dup_ngram_char_frac_{n:02d}" for n in GOPHER_DUP_NGRAM_NS])
    _nulls = [F.lit(None).cast("long").alias(f"n_{n}") for n in names]
    _gnulls = [F.lit(None).cast("double").alias(c) for c in gcols]
    pii = scrub_pii(_values_df(spark, _PII_VALUES, ["id", "text"])).select(
        F.lit("pii").alias("kind"),
        F.col("id").cast("string").alias("key"),
        F.col("text_scrubbed"),
        *[F.element_at("pii_counts", n).cast("long").alias(f"n_{n}")
          for n in names],
        F.lit(None).cast("string").alias("top_ngram"),
        F.lit(None).cast("long").alias("top_count"),
        F.lit(None).cast("double").alias("top_char_frac"),
        F.lit(None).cast("long").alias("paras_total"),
        F.lit(None).cast("long").alias("paras_dropped"),
        *_gnulls)
    docs = (_t(spark, sf, "documents").where(F.col("doc_id") < 200)
            .select("doc_id", "text"))
    ng = repeated_ngram_stats(docs).select(
        F.lit("ngram").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("string").alias("text_scrubbed"),
        *_nulls,
        "top_ngram", "top_count", "top_char_frac",
        F.lit(None).cast("long").alias("paras_total"),
        F.lit(None).cast("long").alias("paras_dropped"),
        *_gnulls)
    pd_rows = dedup_paragraphs(
        _values_df(spark, _PARA_VALUES, ["id", "text"]),
        id_col="id").select(
        F.lit("paradedup").alias("kind"),
        F.col("id").cast("string").alias("key"),
        F.col("text_kept").alias("text_scrubbed"),
        *_nulls,
        F.lit(None).cast("string").alias("top_ngram"),
        F.lit(None).cast("long").alias("top_count"),
        F.lit(None).cast("double").alias("top_char_frac"),
        "paras_total", "paras_dropped",
        *_gnulls)
    gf = gopher_repetition_stats(docs).select(
        F.lit("gopher").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.lit(None).cast("string").alias("text_scrubbed"),
        *_nulls,
        F.lit(None).cast("string").alias("top_ngram"),
        F.lit(None).cast("long").alias("top_count"),
        F.lit(None).cast("double").alias("top_char_frac"),
        F.lit(None).cast("long").alias("paras_total"),
        F.lit(None).cast("long").alias("paras_dropped"),
        *gcols)
    return pii.unionByName(ng).unionByName(pd_rows).unionByName(gf)


def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup: top-3 most similar pairs per label
    bucket (the embedding-space analogue of minhash candidate pairs)."""
    emb = _t(spark, sf, "embeddings").where(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("vec_a"),
                   F.col("label"),
                   F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"),
                   F.col("label"),
                   F.col("embedding").alias("emb_b"))
    pairs = (a.join(b, "label")
             .where(F.col("vec_a") < F.col("vec_b"))
             .select("label", "vec_a", "vec_b",
                     F.round(_cosine(F.col("emb_a"), F.col("emb_b")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("label").orderBy(
        F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3).drop("rn"))


# --- non-SQL (rows-only checks): the real extraction pipeline ---------------

def q_pipeline_documents(spark, sf):
    web = _web_pages_from_documents(spark, sf)
    res = run_pipeline(spark, web, output_dir=None, resume=False,
                       cache_intermediate=False)
    return res.docs.select("url", "doc_kind", "total_pages",
                           F.length("text").alias("text_chars"))


def q_extraction_quality(spark, sf):
    """A11 on REAL pipeline output: the quality columns finalize computes
    natively, verified against a DuckDB oracle that independently
    reconstructs the HTML-extraction contract (banner + ws-normalized
    body) and recomputes the reference formula
    (backend/pdf_plumber.py:340-392) in SQL."""
    web = _web_pages_from_documents(spark, sf)
    res = run_pipeline(spark, web, output_dir=None, resume=False,
                       cache_intermediate=False)
    return res.docs.select(
        "url", "total_lines", "non_empty_lines", "avg_line_length",
        "page_markers", "claim_numbers_found", "completeness_score",
        "is_complete")


def q_media_features(spark, sf):
    from insurance_pdf_extractor_spark.multimodal import (
        extract_media_features)
    web = _web_pages_from_documents(spark, sf)
    return extract_media_features(web).select(
        "url", "media_kind", "n_bytes", "sha256", "entropy", "decoded")


def q_pipeline_fixture_claims(spark, sf):
    from insurance_pdf_extractor_spark.fixtures import generate_rows
    from insurance_pdf_extractor_spark.schemas import WEB_PAGES
    rows = generate_rows(64, seed=42)
    web = spark.createDataFrame(rows, schema=WEB_PAGES)
    res = run_pipeline(spark, web, output_dir=None, resume=False,
                       cache_intermediate=False)
    return res.claims.select("url", "claim_number", "employee_name",
                             "status", "injury_type", "claim_year",
                             "medical_paid", "total_incurred",
                             "math_valid", "math_diff")


def q_event_window_ops(spark, sf):
    """W2 forward fill + W4 lead, merged into ONE window pass (r7
    registry rotation to free slots for substring_dedup /
    lm_perplexity): both functions share the (user_id, ts, event_id)
    sort, so one Exchange + one Sort serves both — the merged form is
    also the better plan (the separate queries each paid their own
    shuffle+sort of the full events table)."""
    ev = _t(spark, sf, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)) \
         .otherwise(F.round("value", 2))
    ord_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fill_w = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    return (ev.withColumn("v", v)
            .select("user_id", "event_id",
                    F.last("v", ignorenulls=True).over(fill_w)
                    .alias("filled"),
                    F.lead("event_id").over(ord_w)
                    .alias("next_event_id")))


def q_ann_topk(spark, sf):
    """Brute-force cosine top-k + IVF coarse-bucketed top-k, kind-tagged
    (r7 registry rotation — the two formerly-separate rows, same
    operators, one graded row)."""
    brute = q_ann_bruteforce(spark, sf).select(
        F.lit("brute").alias("kind"), "vec_id",
        F.lit(None).cast("int").alias("label"), "cosine")
    ivf = q_ann_ivf_bucketed(spark, sf).select(
        F.lit("ivf").alias("kind"), "vec_id", "label", "cosine")
    return brute.unionByName(ivf)


#: adversarial fixture rows for the substring-dedup oracle: a shared
#: cross-doc 12-word boilerplate block, a within-doc 8-gram repeat,
#: null text, and a doc too short to window (the cases the real docs
#: slice can't guarantee to exercise)
_SUBSTR_BOILER = ("please accept our terms of service before "
                  "continuing to use this site")
_SUBSTR_VALUES = [
    ("fx1", f"unique alpha narrative one {_SUBSTR_BOILER} tail words"),
    ("fx2", f"different beta opening {_SUBSTR_BOILER} other close"),
    ("fx3", "self repeat one two three four five six seven eight MID "
            "one two three four five six seven eight"),
    ("fx4", None),
    ("fx5", "too short"),
]
_SUBSTR_K = 8


def q_substring_dedup(spark, sf):
    """Exact duplicated-substring removal (Lee et al. 2022 ExactSubstr,
    word-token granularity — :func:`dedup.dedup_substrings`): every
    k-word span occurring >= 2 times in the corpus is cut from all its
    hosts; overlapping windows merge to maximal spans. Corpus = the
    sf documents slice (real duplicated template grams) + adversarial
    fixtures (cross-doc block / within-doc repeat / null / short)."""
    from insurance_pdf_extractor_spark.dedup import dedup_substrings
    docs = (_t(spark, sf, "documents").where(F.col("doc_id") < 200)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    "text"))
    fx = _values_df(spark, _SUBSTR_VALUES, ["doc_id", "text"])
    return dedup_substrings(docs.unionByName(fx), k=_SUBSTR_K)


_LM_VOCAB = 1000


def q_lm_perplexity(spark, sf):
    """CCNet-style LM quality scoring (Wenzek et al. 2020 §4.3 surface,
    add-one unigram stand-in for KenLM — lm.py): fit a bounded-vocab
    unigram model ON the corpus, score every doc's perplexity / OOV
    fraction, and tag CCNet head/middle/tail terciles. Fit is one agg +
    distributed top-K; scoring is a broadcast-vocab join (the hot
    stopwords never shuffle)."""
    from insurance_pdf_extractor_spark.lm import (ppl_buckets,
                                                  unigram_doc_scores,
                                                  unigram_fit)
    docs = (_t(spark, sf, "documents").where(F.col("doc_id") < 300)
            .select("doc_id", "text"))
    model = unigram_fit(docs, vocab_size=_LM_VOCAB)
    scores = unigram_doc_scores(docs, model)
    return (ppl_buckets(scores)
            .join(scores.select("doc_id", "n_tokens", "oov_frac",
                                "nll"), "doc_id"))


def q_doc_signals(spark, sf):
    """lang-ID confusion counts + exact/winnowing fingerprints, merged
    kind-tagged (r7 registry rotation to free a slot for
    `decontaminate`; both operators stay individually graded).
    kind='langid': key = true lang, s1 = guessed lang, n = doc count.
    kind='fp': key = doc_id, s1 = normalized-md5 fingerprint,
    n = winnowing fingerprint count."""
    lang = q_lang_id(spark, sf).select(
        F.lit("langid").alias("kind"), F.col("lang").alias("key"),
        F.col("lang_guess").alias("s1"), F.col("n").cast("long").alias("n"))
    fp = q_fingerprint(spark, sf).select(
        F.lit("fp").alias("kind"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("fingerprint").alias("s1"),
        F.col("n_winnow").cast("long").alias("n"))
    return lang.unionByName(fp)


_DECON_N = 13


def q_decontaminate(spark, sf):
    """Eval-set decontamination (Brown et al. 2020 App. C 13-gram rule
    — :func:`scrub.ngram_overlap_stats`): per training doc, the count/
    fraction of its 13-gram windows found anywhere in the reference
    corpus. Reference = every 50th doc of the slice (planted verbatim
    contamination: those docs self-overlap ~100%, plus any doc sharing
    a template window with them), broadcast as distinct window hashes
    so the training side never shuffles before the per-doc agg."""
    from insurance_pdf_extractor_spark.scrub import ngram_overlap_stats
    docs = (_t(spark, sf, "documents").where(F.col("doc_id") < 200)
            .select("doc_id", "text"))
    ref = docs.where(F.col("doc_id") % 50 == 0).select("text")
    return ngram_overlap_stats(docs, ref, n=_DECON_N)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries, flagship first: the driver's correctness gate
    # grades the first 50 in dict order (r2 verdict item 1)
    return {
        # flagship: the real extraction pipeline + multimodal plumbing
        "pipeline_documents": q_pipeline_documents,
        "pipeline_fixture_claims": q_pipeline_fixture_claims,
        "extraction_quality": q_extraction_quality,
        "media_features": q_media_features,
        # web-corpus ops
        "latest_snapshot_per_url": q_latest_snapshot_per_url,
        "url_normalize": q_url_normalize,
        # PII scrubbing + repetition screening (r6; watermark_detect
        # folded into micro_ops to free this slot)
        "scrub_ops": q_scrub_ops,
        "embedding_near_dup": q_embedding_near_dup,
        # discovery rules (r3)
        "claim_discovery": q_claim_discovery,
        # joins / aggs / windows (SURVEY §2.4-2.8)
        "pricing_summary": q_pricing_summary,
        "top1_line_per_order": q_top1_line_per_order,
        # W2+W4 merged into one window pass (r7 rotation — freed a slot
        # for the substring-dedup / LM rows)
        "event_window_ops": q_event_window_ops,
        "anti_join_customers": q_anti_join_customers,
        "semi_join_parts": q_semi_join_parts,
        "set_diff_both_ways": q_set_diff_both_ways,
        "revenue_by_parttype": q_revenue_by_parttype,
        "topk_orders": q_topk_orders,
        "distinct_segments_per_nation": q_distinct_segments_per_nation,
        "rollup_revenue": q_rollup_revenue,
        "distinct_counts": q_distinct_counts,
        "json_props_sum": q_json_props_sum,
        # scalar normalizations (SURVEY §2.9; six micro-fixtures merged)
        "field_normalize": q_field_normalize,
        "claims_normalize": q_claims_normalize,
        "financial_validation": q_financial_validation,
        # documents: text analysis / quality / lang-id / fingerprints
        "doc_stats": q_doc_stats,
        "quality_score": q_quality_score,
        # langid + fingerprints merged kind-tagged (r7 rotation — freed
        # a slot for decontaminate)
        "doc_signals": q_doc_signals,
        "dedup_exact": q_dedup_exact,
        # dedup: minhash / lsh / jaccard / simhash
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_signatures": q_minhash_signatures,
        "lsh_band_pairs": q_lsh_band_pairs,
        "simhash64": q_simhash64,
        # similarity search over embeddings
        "ann_topk": q_ann_topk,   # brute + ivf kinds (r7 rotation)
        "embedding_bucket_stats": q_embedding_bucket_stats,
        # extraction-operator twins (four text micro-queries merged)
        "text_line_ops": q_text_line_ops,
        "best_record_per_group": q_best_record_per_group,
        "claim_id_regex": q_claim_id_regex,
        "rotation_vote": q_rotation_vote,
        "policy_forward_fill": q_policy_forward_fill,
        "chunk_windows": q_chunk_windows,
        "chunk_plan": q_chunk_plan,
        "chunk_integrity": q_chunk_integrity,
        # C12 slug/session + format analysis + retry batching +
        # watermark detection, merged (VERDICT r4 item 3 / r5 item 1)
        # to free slots for pq/dedup/scrub entries
        "micro_ops": q_micro_ops,
        # PQ ADC scoring + the composed IVF×PQ query, kind-tagged
        "pq_ivfpq_topk": q_pq_ivfpq_topk,
        # keeper election over connected components, fixed pair fixture
        "dedup_verdict": q_dedup_verdict,
        "windowed_event_counts": q_windowed_event_counts,
        "sessionize_events": q_sessionize_events,
        # r7: exact-substring dedup (Lee et al.) + CCNet LM perplexity
        # + eval-set decontamination (GPT-3 13-gram rule)
        "substring_dedup": q_substring_dedup,
        "lm_perplexity": q_lm_perplexity,
        "decontaminate": q_decontaminate,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# The flagship queries' DuckDB oracles reconstruct the pipeline's OUTPUT
# CONTRACT independently in SQL: web_pages html = _HTML_PRE||text||_HTML_POST
# over documents, whose boilerplate-strip extraction is (by the html_extract
# contract) the banner + whitespace-normalized body.
_SQL_HTML = (
    "'" + _HTML_PRE.replace("'", "''").replace(chr(10), "' || chr(10) || '")
    + "' || text || '" + _HTML_POST.replace("'", "''") + "'")
_SQL_EXTRACTED = (
    "repeat('=',80) || chr(10) || "
    "'HTML DOCUMENT EXTRACTION (boilerplate-strip)' || chr(10) || "
    "repeat('=',80) || chr(10) || chr(10) || "
    "trim(regexp_replace(text, '\\s+', ' ', 'g')) || chr(10)")
_SQL_URL = "'https://testdata.local/doc/' || doc_id"


def _pipeline_documents_sql() -> str:
    return f"""
            SELECT {_SQL_URL} AS url,
                   'html' AS doc_kind,
                   1 AS total_pages,
                   CAST(length({_SQL_EXTRACTED}) AS INT) AS text_chars
            FROM documents"""


def _extraction_quality_sql() -> str:
    """A11 formula (reference pdf_plumber.py:340-392) recomputed in SQL."""
    return f"""
            WITH ft AS (
              SELECT {_SQL_URL} AS url, {_SQL_EXTRACTED} AS t
              FROM documents
            ), m AS (
              SELECT url, t,
                     string_split(t, chr(10)) AS ls,
                     [l FOR l IN string_split(t, chr(10))
                      IF regexp_matches(l, '\\S')] AS ne,
                     CAST((length(t) - length(replace(t, 'PAGE ', ''))) // 5
                          AS INT) AS page_markers,
                     len(list_distinct(regexp_extract_all(t,
                         'W\\d{{2}}IN\\d{{5}}|\\d{{6}}B')))
                         AS claim_numbers_found
              FROM ft
            ), q AS (
              SELECT url,
                     CAST(len(ls) AS INT) AS total_lines,
                     CAST(len(ne) AS INT) AS non_empty_lines,
                     CASE WHEN len(ne) > 0 THEN round(
                         list_sum([CAST(length(l) AS DOUBLE) FOR l IN ne])
                         / len(ne), 2) ELSE 0.0 END AS avg_line_length,
                     page_markers,
                     CAST(claim_numbers_found AS INT) AS claim_numbers_found
              FROM m
            )
            SELECT url, total_lines, non_empty_lines, avg_line_length,
                   page_markers, claim_numbers_found,
                   greatest(0.0, round(1.0
                       - (CASE WHEN claim_numbers_found = 0
                               THEN 0.5 ELSE 0.0 END)
                       - (CASE WHEN avg_line_length < 10
                               THEN 0.3 ELSE 0.0 END)
                       - (CASE WHEN page_markers = 0
                               THEN 0.2 ELSE 0.0 END), 2))
                       AS completeness_score,
                   greatest(0.0, round(1.0
                       - (CASE WHEN claim_numbers_found = 0
                               THEN 0.5 ELSE 0.0 END)
                       - (CASE WHEN avg_line_length < 10
                               THEN 0.3 ELSE 0.0 END)
                       - (CASE WHEN page_markers = 0
                               THEN 0.2 ELSE 0.0 END), 2)) >= 0.7
                       AS is_complete
            FROM q"""


def _media_features_sql() -> str:
    """Recomputes sha256 / n_bytes / kind AND the deterministic fake
    entropy (high-nibble byte histogram → Shannon entropy) in SQL."""
    return f"""
            WITH f AS (
              SELECT {_SQL_URL} AS url, {_SQL_HTML} AS s FROM documents
            ), nib AS (
              SELECT url,
                     unnest(regexp_extract_all(hex(encode(s)), '(.).', 1))
                         AS c
              FROM f
            ), cnt AS (
              SELECT url, c, count(*)::DOUBLE AS n FROM nib GROUP BY url, c
            ), ent AS (
              SELECT url, round(-list_sum([p * log2(p) FOR p IN
                         list(n / t ORDER BY strpos('0123456789ABCDEF', c))
                         IF p > 0]), 6) AS entropy
              FROM (SELECT url, c, n, sum(n) OVER (PARTITION BY url) AS t
                    FROM cnt)
              GROUP BY url
            )
            SELECT f.url, 'html' AS media_kind,
                   CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
                   sha256(s) AS sha256, ent.entropy, true AS decoded
            FROM f JOIN ent ON f.url = ent.url"""


def _fixture_claims_sql() -> str:
    """Frozen golden (tools/freeze_oracle_parquet.py): the fixture corpus
    is synthetic PDFs whose parse can't be re-expressed in SQL; the byte
    layer is independently covered by tests/golden + framing parity."""
    return """
            SELECT * FROM read_parquet(
                '/root/repo/tests/golden/oracle/fixture_claims.parquet')"""


def _format_analysis_sql() -> str:
    vals = _values_sql(_FMT_VALUES, ["doc", "text"])
    kw = ["MED PAID", "MED RESV", "IND PAID", "IND RESV", "EXP PAID",
          "TOTAL INCURRED"]
    hits = " + ".join(
        f"CASE WHEN contains(upper(text), '{k}') THEN 1 ELSE 0 END"
        for k in kw)
    multirow = ("contains(upper(text), 'PAYMENTS') AND "
                "contains(upper(text), 'RESERVES')")
    return f"""
            SELECT doc, CAST(({hits}) AS INT) AS keyword_hits,
                   ({multirow}) AS has_multirow_anchors,
                   CASE WHEN ({hits}) >= 2 THEN 'simple_columns'
                        WHEN {multirow} THEN 'complex_multi_row'
                        ELSE 'unknown' END AS format_type
            FROM {vals}"""


def _chunk_integrity_sql() -> str:
    plan = _chunk_plan_sql()
    return f"""
            WITH plan AS ({plan}),
            docs AS (
              SELECT doc_id, length(text) AS n,
                     substr(text, 1, 40) AS first_chunk_preview
              FROM documents WHERE doc_id < 20
            ), agg AS (
              SELECT doc_id, count(*) AS n_chunks,
                     CAST(sum(chunk_len) AS BIGINT) AS total_chunk_chars,
                     min(start) AS min_start, max("end") AS max_end,
                     max(strategy) AS strategy
              FROM plan GROUP BY doc_id
            )
            SELECT a.doc_id, n_chunks, total_chunk_chars, strategy,
                   (min_start = 1 AND max_end = n) AS covers_doc,
                   CAST(total_chunk_chars - n AS BIGINT) AS overlap_chars,
                   first_chunk_preview
            FROM agg a JOIN docs d ON a.doc_id = d.doc_id"""


def _url_normalize_sql() -> str:
    vals = _values_sql([(u,) for u in _URL_VALUES], ["url"])
    scheme = "lower(regexp_extract(url, '^([A-Za-z]+)://', 1))"
    rest = "regexp_replace(url, '^[A-Za-z]+://', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?#]+)', 1))"
    host = f"regexp_replace({hostport}, ':\\d+$', '')"
    path = f"regexp_extract({rest}, '^[^/?#]+([^#]*)', 1)"
    canon_port = (f"CASE WHEN {scheme} = 'http' AND ends_with({hostport}, "
                  f"':80') THEN {host} "
                  f"WHEN {scheme} = 'https' AND ends_with({hostport}, "
                  f"':443') THEN {host} ELSE {hostport} END")
    return f"""
            SELECT url, {scheme} AS scheme, {host} AS host,
                   {scheme} || '://' || {canon_port}
                   || regexp_replace({path}, '\\?$', '') AS canonical
            FROM {vals}"""


def _chunk_plan_sql() -> str:
    t, o = CHUNK_TARGET, CHUNK_OVERLAP
    return f"""
            WITH d AS (
              SELECT doc_id, text, length(text) AS n
              FROM documents WHERE doc_id < 20
            ), small AS (
              SELECT doc_id, 0 AS chunk_id, 1 AS start,
                     CAST(n AS INT) AS "end",
                     'no_chunking_needed' AS strategy
              FROM d WHERE n <= {t}
            ), ex AS (
              SELECT doc_id, n, len(string_split(text, ' ')) AS nw,
                     unnest(range(0, len(string_split(text, ' ')))) AS i,
                     unnest(string_split(text, ' ')) AS w
              FROM d WHERE n > {t}
            ), bnd AS (
              SELECT doc_id, n, p,
                     CAST(ceil(p / {t}.0) AS INT) AS bucket
              FROM (SELECT doc_id, n, nw, i,
                           sum(length(w) + 1) OVER (PARTITION BY doc_id
                               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS p
                    FROM ex)
              WHERE i < nw - 1
            ), splits AS (
              SELECT doc_id, n, bucket, max(p) AS split
              FROM bnd GROUP BY doc_id, n, bucket
              HAVING bucket < ceil(n / {t}.0)
            ), body AS (
              SELECT doc_id,
                     CAST(row_number() OVER w - 1 AS INT) AS chunk_id,
                     CAST(greatest(1, coalesce(lag(split) OVER w + 1 - {o},
                                               1)) AS INT) AS start,
                     CAST(split AS INT) AS "end",
                     'boundary_aware' AS strategy
              FROM splits
              WINDOW w AS (PARTITION BY doc_id ORDER BY split)
            ), finals AS (
              SELECT doc_id, CAST(count(*) AS INT) AS chunk_id,
                     CAST(greatest(1, max(split) + 1 - {o}) AS INT) AS start,
                     CAST(n AS INT) AS "end",
                     'boundary_aware' AS strategy
              FROM splits GROUP BY doc_id, n
            ), nosplit AS (
              SELECT doc_id, 0 AS chunk_id, 1 AS start,
                     CAST(n AS INT) AS "end", 'no_boundaries' AS strategy
              FROM d WHERE n > {t}
                AND doc_id NOT IN (SELECT doc_id FROM splits)
            ), un AS (
              SELECT * FROM small UNION ALL
              SELECT * FROM body UNION ALL
              SELECT * FROM finals UNION ALL
              SELECT * FROM nosplit
            )
            SELECT *, CAST("end" - start + 1 AS INT) AS chunk_len FROM un"""


def _slug_session_sql() -> str:
    base = "'Loss Run ' || source || ' ' || doc_id || '.pdf'"
    slug = f"substr(replace(replace({base}, ' ', '_'), '.', '_'), 1, 20)"
    # make_timestamp(µs) stays in naive/UTC space — to_timestamp() would
    # yield a TIMESTAMPTZ strftime'd in the DuckDB host's local TimeZone,
    # silently coupling oracle parity to a UTC harness host (ADVICE r2)
    ts = ("strftime(make_timestamp((1704067200 + doc_id) * 1000000), "
          "'%Y%m%d_%H%M%S')")
    return f"""
            SELECT doc_id, {base} AS filename, {slug} AS file_slug,
                   {ts} || '_' || {slug} AS session_id
            FROM documents WHERE doc_id < 50"""


def _retry_batches_sql() -> str:
    vals = _values_sql(_RETRY_VALUES,
                       ["url", "detected_csv", "extracted_csv"])
    return f"""
            WITH t AS (SELECT * FROM {vals}),
            m AS (
              SELECT url, list_sort(list_filter(
                  string_split(detected_csv, ','),
                  x -> NOT list_contains(
                      CASE WHEN extracted_csv = '' THEN []
                           ELSE string_split(extracted_csv, ',') END, x)))
                  AS missing
              FROM t
            ), ex AS (
              SELECT url,
                     unnest(range(0, len(missing))) AS idx,
                     unnest(missing) AS claim_id
              FROM m
            )
            SELECT url, CAST(idx // 5 AS INT) AS batch_no,
                   array_to_string(list_sort(list(claim_id)), ',')
                       AS claim_ids,
                   count(*) AS batch_size, 2 AS max_retries
            FROM ex GROUP BY url, idx // 5"""


def _micro_ops_sql() -> str:
    """Union of the three micro-oracles under the shared (kind, key)
    schema — column lists mirror q_micro_ops's `aligned` exactly."""
    nulls = {
        "filename": "VARCHAR", "file_slug": "VARCHAR",
        "session_id": "VARCHAR", "keyword_hits": "INT",
        "has_multirow_anchors": "BOOLEAN", "format_type": "VARCHAR",
        "claim_ids": "VARCHAR", "batch_size": "BIGINT",
        "max_retries": "INT"}

    def cols(present):
        return ", ".join(
            c if c in present else f"CAST(NULL AS {t}) AS {c}"
            for c, t in nulls.items())
    return f"""
            WITH slug AS ({_slug_session_sql()}),
            fmt AS ({_format_analysis_sql()}),
            rb AS ({_retry_batches_sql()}),
            wm AS (
              WITH pages AS (
                SELECT * FROM {_values_sql(_WM_VALUES,
                                           ['page_no', 'line'])})
              SELECT line FROM pages
              WHERE length(line) >= 4
              GROUP BY line
              HAVING count(DISTINCT page_no) =
                     (SELECT count(DISTINCT page_no) FROM pages)
            )
            SELECT 'slug' AS kind, CAST(doc_id AS VARCHAR) AS key,
                   {cols({'filename', 'file_slug', 'session_id'})}
            FROM slug
            UNION ALL
            SELECT 'format', doc,
                   {cols({'keyword_hits', 'has_multirow_anchors',
                          'format_type'})}
            FROM fmt
            UNION ALL
            SELECT 'retry', url || '#' || batch_no,
                   {cols({'claim_ids', 'batch_size', 'max_retries'})}
            FROM rb
            UNION ALL
            SELECT 'watermark', line, {cols(set())}
            FROM wm"""


def _pq_ivfpq_topk_sql() -> str:
    """ADC + composed IVF×PQ reconstruction: same arithmetic codes +
    PQ centroids; the ivfpq kind additionally reconstructs the coarse
    centroid ranking → top-2 bucket prune over bucket = vec_id % 4.
    Float literals CAST AS DOUBLE (DuckDB VALUES infer DECIMAL — exact
    arithmetic would diverge from Spark's IEEE doubles)."""
    qs = ", ".join(
        f"({s}, CAST({_PQ_QVEC[s * _PQ_SUB]!r} AS DOUBLE), "
        f"CAST({_PQ_QVEC[s * _PQ_SUB + 1]!r} AS DOUBLE))"
        for s in range(_PQ_M))
    cents = ", ".join(
        f"({s}, {b}, CAST({_pq_centroid(s, b)[0]!r} AS DOUBLE), "
        f"CAST({_pq_centroid(s, b)[1]!r} AS DOUBLE))"
        for s in range(_PQ_M) for b in range(_PQ_K))
    # coarse centroids as (bucket, pos, val) rows; the full query vector
    # as (pos, qval) rows — the coarse distance is a per-bucket sum
    dim = _PQ_M * _PQ_SUB
    coarse = ", ".join(
        f"({b}, {d}, CAST({_ivf_centroid(b)[d]!r} AS DOUBLE))"
        for b in range(_IVF_NB) for d in range(dim))
    qfull = ", ".join(f"({d}, CAST({_PQ_QVEC[d]!r} AS DOUBLE))"
                      for d in range(dim))
    return f"""
            WITH qs(slice_no, q1, q2) AS (VALUES {qs}),
            books(slice_no, bucket, c1, c2) AS (VALUES {cents}),
            dq AS (
              SELECT b.slice_no, b.bucket,
                     (q1 - c1) * (q1 - c1) + (q2 - c2) * (q2 - c2) AS dq
              FROM books b JOIN qs USING (slice_no)
            ), codes AS (
              SELECT vec_id, s.s AS slice_no,
                     CAST((vec_id + (vec_id % 7) * (s.s + 1) + s.s)
                          % {_PQ_K} AS INT) AS bucket
              FROM embeddings, (SELECT unnest(range({_PQ_M})) AS s) s
              WHERE vec_id < 500
            ), scored AS (
              SELECT vec_id, round(sum(dq), 6) AS approx_dist
              FROM codes JOIN dq USING (slice_no, bucket)
              GROUP BY vec_id
            ),
            coarse(cbucket, pos, val) AS (VALUES {coarse}),
            qfull(pos, qval) AS (VALUES {qfull}),
            dc AS (
              SELECT cbucket, sum((val - qval) * (val - qval)) AS dcv
              FROM coarse JOIN qfull USING (pos) GROUP BY cbucket
            ),
            probes AS (
              SELECT cbucket FROM dc ORDER BY dcv ASC, cbucket ASC
              LIMIT 2
            ),
            iscored AS (
              SELECT vec_id, round(sum(dq), 6) AS approx_dist
              FROM codes JOIN dq USING (slice_no, bucket)
              WHERE CAST(vec_id % {_IVF_NB} AS INT)
                    IN (SELECT cbucket FROM probes)
              GROUP BY vec_id
            ),
            rcand AS (
              SELECT vec_id FROM iscored
              ORDER BY approx_dist ASC, vec_id ASC LIMIT 50
            ),
            rexact AS (
              SELECT e.vec_id,
                     round(sum((CAST(e.embedding[q.pos + 1] AS DOUBLE)
                                - q.qval)
                               * (CAST(e.embedding[q.pos + 1] AS DOUBLE)
                                  - q.qval)), 6) AS exact_dist
              FROM embeddings e, qfull q
              WHERE e.vec_id IN (SELECT vec_id FROM rcand)
              GROUP BY e.vec_id
            )
            SELECT 'adc' AS kind, vec_id, approx_dist,
                   CAST(NULL AS DOUBLE) AS exact_dist FROM (
              SELECT vec_id, approx_dist FROM scored
              ORDER BY approx_dist ASC, vec_id ASC LIMIT 10)
            UNION ALL
            SELECT 'ivfpq', vec_id, approx_dist,
                   CAST(NULL AS DOUBLE) FROM (
              SELECT vec_id, approx_dist FROM iscored
              ORDER BY approx_dist ASC, vec_id ASC LIMIT 10)
            UNION ALL
            SELECT 'refined', vec_id, CAST(NULL AS DOUBLE), exact_dist
            FROM (
              SELECT vec_id, exact_dist FROM rexact
              ORDER BY exact_dist ASC, vec_id ASC LIMIT 10)"""


def _dedup_verdict_sql() -> str:
    """Transitive-closure twin of dedup_documents: min reachable id per
    node via a recursive CTE (fixture graphs are tiny; the Spark side is
    the distributed operator, which must reproduce it exactly)."""
    vals = ", ".join(f"({a}, {b})" for a, b in _DEDUP_PAIRS)
    return f"""
            WITH RECURSIVE p(a, b) AS (VALUES {vals}),
            edges AS (
              SELECT a, b FROM p UNION SELECT b, a FROM p
              UNION SELECT a, a FROM p UNION SELECT b, b FROM p
            ),
            reach(id, r) AS (
              SELECT a, b FROM edges
              UNION
              SELECT reach.id, e.b FROM reach JOIN edges e
              ON reach.r = e.a
            ),
            comp AS (
              SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
              FROM reach GROUP BY id
            )
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.cluster_id, d.doc_id)
                       AS is_keeper
            FROM (SELECT doc_id FROM documents WHERE doc_id < 40) d
            LEFT JOIN comp c ON d.doc_id = c.doc_id"""


def _scrub_ops_sql() -> str:
    """Oracle twin of q_scrub_ops, built from the SAME PII_PATTERNS
    list (a silently-diverging regex copy would defeat the gate): the
    chained redaction is re-chained in SQL (regexp_replace ... 'g' —
    DuckDB replaces first-only by default), counts via
    len(regexp_extract_all) on the progressively-scrubbed text; the
    repetition screen is rebuilt with list comprehensions over
    string_split_regex, LEFT JOINed back so sub-2-word docs keep their
    (NULL, 0, 0.0) row like explode_outer does; the paragraph dedup is
    rebuilt with zipped unnest/generate_subscripts + a HAVING-count hot
    list + string_agg ORDER BY position; the Gopher family (r7) is
    rebuilt with per-n list-comprehension n-grams zipped to positions,
    a window count over (doc, n, gram), and range()-expanded word-index
    coverage joined back to the 1-based word table (the Spark side uses
    0-based posexplode — coverage only needs internal consistency)."""
    from insurance_pdf_extractor_spark.scrub import (
        GOPHER_DUP_NGRAM_NS, PII_PATTERNS)
    expr = "text"
    counts = []
    for name, pat, tok in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"
            f" AS n_{name}")
        expr = f"regexp_replace({expr}, '{pat}', '{tok}', 'g')"
    names = [n for n, _, _ in PII_PATTERNS]
    null_counts = ", ".join(f"CAST(NULL AS BIGINT) AS n_{n}"
                            for n in names)
    gcols = (["dup_line_frac", "dup_line_char_frac"]
             + [f"dup_ngram_char_frac_{n:02d}" for n in GOPHER_DUP_NGRAM_NS])
    null_gopher = ", ".join(f"CAST(NULL AS DOUBLE) AS {c}" for c in gcols)
    gocc_blocks = "\n              UNION ALL\n".join(
        f"""SELECT doc_id, {n} AS n,
                     unnest([array_to_string(words[i:i+{n - 1}], ' ')
                             for i in range(1, len(words) - {n} + 2)])
                         AS gram,
                     unnest(range(1, len(words) - {n} + 2)) AS pos
              FROM gw""" for n in GOPHER_DUP_NGRAM_NS)
    gng_aggs = ", ".join(
        f"max(CASE WHEN n = {n} THEN round(cov / wchars, 4) END) AS f{n:02d}"
        for n in GOPHER_DUP_NGRAM_NS)
    gf_cols = ", ".join(
        f"coalesce(gng.f{n:02d}, 0.0) AS dup_ngram_char_frac_{n:02d}"
        for n in GOPHER_DUP_NGRAM_NS)
    return f"""
            WITH pii_src AS (
              SELECT * FROM {_values_sql(_PII_VALUES, ['id', 'text'])}
            ), pii AS (
              SELECT id, {expr} AS text_scrubbed,
                     {', '.join(counts)}
              FROM pii_src
            ), d AS (
              SELECT doc_id, text, length(text) AS tl
              FROM documents WHERE doc_id < 200
            ), w AS (
              SELECT doc_id, tl,
                     string_split_regex(trim(text), '\\s+') AS words
              FROM d
            ), g AS (
              SELECT doc_id, tl,
                     unnest([words[i] || ' ' || words[i+1]
                             for i in range(1, len(words))]) AS gram
              FROM w
            ), c AS (
              SELECT doc_id, tl, gram, count(*) AS cnt
              FROM g GROUP BY doc_id, tl, gram
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY cnt DESC, gram ASC) AS rn
              FROM c
            ), ng AS (
              SELECT d.doc_id, r.gram AS top_ngram,
                     CAST(coalesce(r.cnt, 0) AS BIGINT) AS top_count,
                     CASE WHEN r.gram IS NOT NULL AND d.tl > 0
                          THEN least(1.0,
                                     round(r.cnt * length(r.gram) / d.tl,
                                           4))
                          ELSE 0.0 END AS top_char_frac
              FROM d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
              ON d.doc_id = r.doc_id
            )
            , para_src AS (
              SELECT * FROM {_values_sql(_PARA_VALUES, ['id', 'text'])}
            ), parts AS (
              SELECT id,
                     unnest(string_split(text, chr(10))) AS para,
                     generate_subscripts(string_split(text, chr(10)), 1)
                         AS pos
              FROM para_src
            ), hot AS (
              SELECT trim(para) AS k FROM parts
              WHERE trim(para) <> ''
              GROUP BY 1 HAVING count(*) >= 2
            ), kept AS (
              SELECT * FROM parts
              WHERE trim(para) NOT IN (SELECT k FROM hot)
            ), totals AS (
              SELECT id, count(*) AS paras_total FROM parts GROUP BY id
            ), rebuilt AS (
              SELECT id, string_agg(para, chr(10) ORDER BY pos) AS tk,
                     count(*) AS pk
              FROM kept GROUP BY id
            ), pd AS (
              SELECT s.id, coalesce(r.tk, '') AS text_kept,
                     CAST(t.paras_total AS BIGINT) AS paras_total,
                     CAST(t.paras_total - coalesce(r.pk, 0) AS BIGINT)
                         AS paras_dropped
              FROM para_src s
              JOIN totals t ON s.id = t.id
              LEFT JOIN rebuilt r ON s.id = r.id
            ), lw AS (
              SELECT doc_id, trim(x) AS k
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS x
                    FROM d)
              WHERE trim(x) <> ''
            ), lc AS (
              SELECT doc_id, k, count(*) AS c FROM lw GROUP BY 1, 2
            ), ls AS (
              SELECT doc_id, sum(c) AS lt, sum(c - 1) AS ld,
                     sum(c * length(k)) AS lct,
                     sum((c - 1) * length(k)) AS lcd
              FROM lc GROUP BY 1
            ), gw AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS words
              FROM d
            ), gwt AS (
              SELECT doc_id, unnest(words) AS word,
                     generate_subscripts(words, 1) AS widx
              FROM gw
            ), gtot AS (
              SELECT doc_id, sum(length(word)) AS wchars
              FROM gwt GROUP BY 1
            ), gocc AS (
              {gocc_blocks}
            ), gdup AS (
              SELECT doc_id, n, pos FROM (
                SELECT doc_id, n, pos,
                       count(*) OVER (PARTITION BY doc_id, n, gram) AS c
                FROM gocc)
              WHERE c >= 2
            ), gcov AS (
              SELECT DISTINCT doc_id, n, widx FROM (
                SELECT doc_id, n, unnest(range(pos, pos + n)) AS widx
                FROM gdup)
            ), gcc AS (
              SELECT g.doc_id, g.n, sum(length(t.word)) AS cov
              FROM gcov g
              JOIN gwt t ON g.doc_id = t.doc_id AND g.widx = t.widx
              GROUP BY 1, 2
            ), gng AS (
              SELECT c.doc_id, {gng_aggs}
              FROM gcc c JOIN gtot w ON c.doc_id = w.doc_id
              GROUP BY 1
            ), gf AS (
              SELECT d.doc_id,
                     CASE WHEN coalesce(ls.lt, 0) > 0
                          THEN round(ls.ld / ls.lt, 4) ELSE 0.0 END
                         AS dup_line_frac,
                     CASE WHEN coalesce(ls.lct, 0) > 0
                          THEN round(ls.lcd / ls.lct, 4) ELSE 0.0 END
                         AS dup_line_char_frac,
                     {gf_cols}
              FROM d
              LEFT JOIN ls ON d.doc_id = ls.doc_id
              LEFT JOIN gng ON d.doc_id = gng.doc_id
            )
            SELECT 'pii' AS kind, CAST(id AS VARCHAR) AS key,
                   text_scrubbed,
                   {', '.join(f'n_{n}' for n in names)},
                   CAST(NULL AS VARCHAR) AS top_ngram,
                   CAST(NULL AS BIGINT) AS top_count,
                   CAST(NULL AS DOUBLE) AS top_char_frac,
                   CAST(NULL AS BIGINT) AS paras_total,
                   CAST(NULL AS BIGINT) AS paras_dropped,
                   {null_gopher}
            FROM pii
            UNION ALL
            SELECT 'ngram', CAST(doc_id AS VARCHAR),
                   CAST(NULL AS VARCHAR), {null_counts},
                   top_ngram, top_count, top_char_frac,
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   {null_gopher}
            FROM ng
            UNION ALL
            SELECT 'paradedup', CAST(id AS VARCHAR),
                   text_kept, {null_counts},
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE), paras_total, paras_dropped,
                   {null_gopher}
            FROM pd
            UNION ALL
            SELECT 'gopher', CAST(doc_id AS VARCHAR),
                   CAST(NULL AS VARCHAR), {null_counts},
                   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                   CAST(NULL AS DOUBLE),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   {', '.join(gcols)}
            FROM gf"""


def _substring_dedup_sql() -> str:
    """Oracle twin of q_substring_dedup: the SAME corpus (documents
    slice + fixture VALUES), k-word windows via a list comprehension
    over one split, corpus-wide HAVING-count dup detection keyed by the
    gram STRING (the Spark side keys xxhash64(gram) — identical
    verdicts absent a 64-bit collision, ~0 at this scale), coverage via
    lateral range unnest, maximal spans via gaps-and-islands, and an
    anti-join + ordered string_agg re-assembly."""
    k = _SUBSTR_K
    vals = ", ".join(
        "(%s, %s)" % (f"'{d}'",
                      "CAST(NULL AS VARCHAR)" if t is None
                      else "'" + t.replace("'", "''") + "'")
        for d, t in _SUBSTR_VALUES)
    return f"""
            WITH corpus AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
              FROM documents WHERE doc_id < 200
              UNION ALL
              SELECT * FROM (VALUES {vals}) v(doc_id, text)
            ), base AS (
              SELECT doc_id, text,
                     CASE WHEN trim(coalesce(text, '')) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(text), '\\s+')
                     END AS words
              FROM corpus
            ), words AS (
              SELECT doc_id, unnest(words) AS word,
                     unnest(range(0, len(words))) AS widx
              FROM base
            ), grams AS (
              SELECT doc_id,
                     unnest([array_to_string(words[i:i+{k - 1}], ' ')
                             FOR i IN range(1, len(words) - {k} + 2)])
                         AS gram,
                     unnest(range(0, len(words) - {k} + 1)) AS pos
              FROM base WHERE len(words) >= {k}
            ), dup AS (
              SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
            ), covered AS (
              SELECT DISTINCT doc_id, u.widx
              FROM (SELECT g.doc_id, g.pos
                    FROM grams g JOIN dup USING (gram)) d,
                   unnest(range(d.pos, d.pos + {k})) u(widx)
            ), isl AS (
              SELECT doc_id, widx,
                     widx - row_number() OVER (PARTITION BY doc_id
                                               ORDER BY widx) AS grp
              FROM covered
            ), cov_stats AS (
              SELECT doc_id, count(*) AS removed,
                     count(DISTINCT grp) AS spans
              FROM isl GROUP BY doc_id
            ), kept AS (
              SELECT w.doc_id,
                     string_agg(w.word, ' ' ORDER BY w.widx) AS tk
              FROM words w ANTI JOIN covered c
                ON w.doc_id = c.doc_id AND w.widx = c.widx
              GROUP BY w.doc_id
            ), totals AS (
              SELECT doc_id, count(*) AS total FROM words GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CASE WHEN b.text IS NULL THEN NULL
                        WHEN coalesce(cs.removed, 0) = 0 THEN b.text
                        ELSE coalesce(kept.tk, '') END AS text_kept,
                   coalesce(t.total, 0) AS words_total,
                   coalesce(cs.removed, 0) AS words_removed,
                   coalesce(cs.spans, 0) AS spans_removed
            FROM base b
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN cov_stats cs USING (doc_id)
            LEFT JOIN kept USING (doc_id)"""


def _lm_perplexity_sql() -> str:
    """Oracle twin of q_lm_perplexity: identical tokenization
    (lower+trim, \\s+ split, drop empties), identical top-V vocab
    (count desc, token asc), the same add-one closed form
    p = (c+1)/(N+V+1), and quantile_cont terciles over the 4-dp-rounded
    ppl (Spark's exact `percentile` uses the same (n-1)*p linear
    interpolation)."""
    return f"""
            WITH base AS (
              SELECT doc_id, lower(trim(coalesce(text, ''))) AS t
              FROM documents WHERE doc_id < 300
            ), toks AS (
              SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split_regex(t, '\\s+')) AS tok
                FROM base) WHERE tok <> ''
            ), counts AS (
              SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), vocab AS (
              SELECT tok, cnt FROM counts
              ORDER BY cnt DESC, tok ASC LIMIT {_LM_VOCAB}
            ), tot AS (SELECT sum(cnt) AS n, count(*) AS v FROM vocab),
            per AS (
              SELECT t.doc_id, count(*) AS n_tokens,
                     round(avg(CASE WHEN vv.cnt IS NULL
                                    THEN 1.0 ELSE 0.0 END), 4)
                         AS oov_frac,
                     round(-avg(ln((coalesce(vv.cnt, 0) + 1.0)
                                   / (tot.n + tot.v + 1.0))), 4) AS nll,
                     round(exp(-avg(ln((coalesce(vv.cnt, 0) + 1.0)
                                       / (tot.n + tot.v + 1.0)))), 4)
                         AS ppl
              FROM toks t LEFT JOIN vocab vv USING (tok), tot
              GROUP BY t.doc_id
            ), scored AS (
              SELECT b.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
                     coalesce(per.oov_frac, 0.0) AS oov_frac,
                     per.nll, per.ppl
              FROM (SELECT DISTINCT doc_id FROM base) b
              LEFT JOIN per USING (doc_id)
            ), cuts AS (
              SELECT quantile_cont(ppl, [1.0/3, 2.0/3]) AS c FROM scored
            )
            SELECT s.doc_id, s.ppl,
                   CASE WHEN s.ppl IS NULL THEN 'tail'
                        WHEN s.ppl <= c[1] THEN 'head'
                        WHEN s.ppl <= c[2] THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   s.n_tokens, s.oov_frac, s.nll
            FROM scored s, cuts"""


def _finval_sql() -> str:
    # DOUBLE casts matter: DuckDB infers DECIMAL for the VALUES literals,
    # where 200.02 - 200.00 == 0.02 exactly; the reference does Python
    # float arithmetic, where the same diff is 0.02000000000001 > 0.02 and
    # the warning FIRES. Matching the reference requires IEEE doubles.
    vals = _values_sql(_FINVAL_VALUES, _FINVAL_COLS)
    fields = list(C.FINVAL_FIELDS)
    d = {f: f"coalesce(CAST({f} AS DOUBLE), 0.0)" for f in fields}
    calc = "(" + " + ".join(d[f] for f in fields[:-1]) + ")"
    checks = [
        f"CASE WHEN abs({calc} - {d['total_incurred']}) > 0.02 "
        f"THEN printf('Total mismatch: calculated $%.2f != reported $%.2f',"
        f" {calc}, {d['total_incurred']}) END"]
    for f in fields:
        checks.append(
            f"CASE WHEN {d[f]} < 0 THEN printf("
            f"'{f} is negative: $%.2f', {d[f]}) END")
    errs = f"[x FOR x IN [{', '.join(checks)}] IF x IS NOT NULL]"
    return f"""
            SELECT claim_number,
                   coalesce(array_to_string({errs}, '; '), '') AS errors,
                   len({errs}) = 0 AS financially_valid
            FROM {vals}"""


def _minhash_sig_cte(twins: str, shingle2: str) -> str:
    """Shared CTE: twin corpus → 2-shingles → (ha, hb) 32-bit md5 halves."""
    return f"""WITH corpus AS (
              SELECT * FROM ({twins}) WHERE (doc_id % 1000) < 50
            ), sh0 AS (
              SELECT doc_id, md5(unnest({shingle2})) AS h
              FROM (SELECT doc_id, string_split(text, ' ') AS words
                    FROM corpus)
            ), sh AS (
              SELECT doc_id, {_hex32_sql('h', 1)} AS ha,
                     {_hex32_sql('h', 9)} AS hb
              FROM sh0
            )"""


def _minhash_min_exprs() -> str:
    return ", ".join(
        f"min((ha + {k} * hb) % {_MH_PRIME}) AS mh{k:02d}"
        for k in range(MINHASH_PERMS))


def _lsh_bands_union() -> str:
    selects = []
    for b in range(LSH_BANDS):
        parts = " || ',' || ".join(
            f"CAST(mh{b * LSH_ROWS + r:02d} AS VARCHAR)"
            for r in range(LSH_ROWS))
        selects.append(f"SELECT doc_id, {b} AS band_no, md5({parts}) AS bh "
                       f"FROM sig")
    return " UNION ALL ".join(selects)


def _simhash64_sql() -> str:
    votes = []
    for i in range(64):
        src, pos = ("h1", i + 1) if i < 32 else ("h2", i - 31)
        votes.append(f"sum(CASE WHEN ascii(substr({src}, {pos}, 1)) % 2 = 1 "
                     f"THEN 1 ELSE -1 END) AS v{i:02d}")
    nibbles = []
    for nib in range(16):
        val = "0"
        for j in range(4):
            val = (f"({val} * 2 + (CASE WHEN v{nib * 4 + j:02d} > 0 "
                   f"THEN 1 ELSE 0 END))")
        nibbles.append(f"substr('0123456789abcdef', {val} + 1, 1)")
    return f"""
            WITH w AS (
              SELECT doc_id, md5(w) AS h1, md5('x' || w) AS h2
              FROM (SELECT doc_id,
                           unnest(list_distinct(string_split(text, ' ')))
                               AS w
                    FROM documents WHERE doc_id < 100)
            ), votes AS (
              SELECT doc_id, {', '.join(votes)}
              FROM w GROUP BY doc_id
            )
            SELECT doc_id, {' || '.join(nibbles)} AS simhash FROM votes"""


def oracle_sql() -> dict[str, str]:
    currency_vals = _values_sql([(v,) for v in _CURRENCY_VALUES], ["raw"])
    status_vals = _values_sql([(v,) for v in _STATUS_VALUES], ["raw"])
    itype_vals = _values_sql([(v,) for v in _ITYPE_VALUES], ["raw"])
    date_vals = _values_sql([(v,) for v in _DATE_VALUES], ["raw"])
    name_vals = _values_sql([(v,) for v in _NAME_VALUES], ["raw"])
    phantom_vals = _values_sql([(v,) for v in _PHANTOM_VALUES], ["raw"])
    claim_vals = _values_sql(_CLAIM_VALUES, _CLAIM_COLS)
    phantoms = ", ".join(f"'{p}'" for p in C.PHANTOM_NAMES)
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)

    currency_expr = ("coalesce(try_cast(nullif(regexp_replace({c}, "
                     "'[^0-9.]', '', 'g'), '') as double), 0.0)")
    status_expr = (
        "case when upper(trim({c})) in ('C','CL','CLOSED') then 'Closed' "
        "when upper(trim({c})) in ('O','OP','OPEN') then 'Open' "
        "when upper(trim({c})) in ('R','RC','REOP','REOPENED') "
        "then 'Reopened' else nullif(upper(trim({c})), '') end")
    itype_expr = (
        "case when regexp_matches(upper({c}), "
        "'COMP|TTD|TPD|PPD|INDEMNITY|INDEM') then 'COMP' "
        "when regexp_matches(upper({c}), 'MED|MEDICAL') then 'MED' "
        "else {c} end")
    year_expr = ("try_cast(nullif(regexp_extract({c}, "
                 "'((?:19|20)\\d{{2}})', 1), '') as int)")
    name_expr = (
        "case when trim({c}) = '' then NULL "
        "when contains(trim({c}), ',') "
        "or len(regexp_split_to_array(trim({c}), '\\s+')) < 2 "
        "then trim({c}) else "
        "regexp_split_to_array(trim({c}), '\\s+')[-1] || ', ' || "
        "array_to_string(regexp_split_to_array(trim({c}), '\\s+')"
        "[1:len(regexp_split_to_array(trim({c}), '\\s+'))-1], ' ') end")
    phantom_pred = (
        "(trim(regexp_replace(lower(trim(coalesce({c},''))), '[,.]', '', "
        "'g')) in ({plist}) or regexp_matches(lower(trim(coalesce({c},''))),"
        " 'placeholder|test person'))")

    shingle3 = ("list_distinct([words[i] || ' ' || words[i+1] || ' ' || "
                "words[i+2] for i in range(1, len(words)-1)])")
    shingle2 = ("list_distinct([words[i] || ' ' || words[i+1] "
                "for i in range(1, len(words))])")
    twins = (
        "SELECT doc_id, text FROM documents "
        "UNION ALL "
        "SELECT doc_id + 100000 AS doc_id, "
        "array_to_string(string_split(text,' ')"
        "[1:len(string_split(text,' '))-1], ' ') AS text FROM documents")

    cos = ("round(list_dot_product(e.embedding, q.q_emb) / "
           "(sqrt(list_dot_product(e.embedding, e.embedding)) * "
           "sqrt(list_dot_product(q.q_emb, q.q_emb))), 4)")

    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-01'
            GROUP BY l_returnflag, l_linestatus""",
        "top1_line_per_order": """
            SELECT l_orderkey, l_linenumber,
                   round(l_extendedprice, 2) AS best_price
            FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                      ORDER BY l_extendedprice DESC, l_linenumber) AS rn
                  FROM lineitem) WHERE rn = 1""",
        "event_window_ops": """
            SELECT user_id, event_id,
                   last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS filled,
                   lead(event_id) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS next_event_id
            FROM (SELECT *, CASE WHEN event_type = 'error' THEN NULL
                       ELSE round(value, 2) END AS v FROM events)""",
        "anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",
        "semi_join_parts": """
            SELECT p_partkey, p_brand FROM part
            WHERE p_partkey IN (SELECT l_partkey FROM lineitem)""",
        "set_diff_both_ways": """
            SELECT (SELECT count(*) FROM (SELECT DISTINCT s_suppkey
                        FROM supplier WHERE s_suppkey NOT IN
                        (SELECT DISTINCT l_suppkey FROM lineitem)))
                   AS suppliers_without_lines,
                   (SELECT count(*) FROM (SELECT DISTINCT l_suppkey
                        FROM lineitem WHERE l_suppkey NOT IN
                        (SELECT DISTINCT s_suppkey FROM supplier)))
                   AS lines_without_supplier""",
        "revenue_by_parttype": """
            SELECT p_type,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_type""",
        "topk_orders": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total_price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
        "distinct_segments_per_nation": """
            SELECT c_nationkey,
                   string_agg(DISTINCT c_mktsegment, ', '
                              ORDER BY c_mktsegment) AS segments
            FROM customer GROUP BY c_nationkey""",
        "rollup_revenue": """
            SELECT p_brand, p_type,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY ROLLUP (p_brand, p_type)""",
        "distinct_counts": """
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS distinct_parts,
                   count(DISTINCT l_suppkey) AS distinct_suppliers,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag""",
        "json_props_sum": """
            SELECT event_type,
                   CAST(sum(cast(json_extract_string(props, '$.k') as int)) AS BIGINT)
                       AS sum_k,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "field_normalize": f"""
            SELECT 'currency' AS kind, raw,
                   CAST({currency_expr.format(c='raw')} AS DOUBLE)
                       AS cleaned_amount,
                   CAST(NULL AS VARCHAR) AS status,
                   CAST(NULL AS VARCHAR) AS itype,
                   CAST(NULL AS INT) AS claim_year,
                   CAST(NULL AS VARCHAR) AS name,
                   CAST(NULL AS BOOLEAN) AS is_phantom
            FROM {currency_vals}
            UNION ALL
            SELECT 'status', raw, NULL, {status_expr.format(c='raw')},
                   NULL, NULL, NULL, NULL
            FROM {status_vals}
            UNION ALL
            SELECT 'injury_type', raw, NULL, NULL,
                   {itype_expr.format(c='raw')}, NULL, NULL, NULL
            FROM {itype_vals}
            UNION ALL
            SELECT 'claim_year', raw, NULL, NULL, NULL,
                   {year_expr.format(c='raw')}, NULL, NULL
            FROM {date_vals}
            UNION ALL
            SELECT 'name', raw, NULL, NULL, NULL, NULL,
                   {name_expr.format(c='raw')}, NULL
            FROM {name_vals}
            UNION ALL
            SELECT 'phantom', raw, NULL, NULL, NULL, NULL, NULL,
                   {phantom_pred.format(c='raw', plist=phantoms)}
            FROM {phantom_vals}""",
        "claim_discovery": _claim_discovery_sql(),
        "claims_normalize": f"""
            WITH typed AS (
              SELECT trim(claim_number) AS claim_number,
                     {status_expr.format(c='status')} AS status,
                     {itype_expr.format(c='injury_type')} AS injury_type,
                     {year_expr.format(c='injury_date')} AS claim_year,
                     {name_expr.format(c='employee_name')} AS employee_name,
                     {currency_expr.format(c='medical_paid')} AS medical_paid,
                     {currency_expr.format(c='medical_reserve')} AS medical_reserve,
                     {currency_expr.format(c='indemnity_paid')} AS indemnity_paid_0,
                     {currency_expr.format(c='indemnity_reserve')} AS indemnity_reserve_0,
                     {currency_expr.format(c='expense_paid')} AS expense_paid,
                     {currency_expr.format(c='expense_reserve')} AS expense_reserve,
                     {currency_expr.format(c='recovery')} AS recovery,
                     {currency_expr.format(c='total_incurred')} AS total_incurred
              FROM {claim_vals}
              WHERE trim(claim_number) <> ''
            ), guarded AS (
              SELECT claim_number, status, injury_type, claim_year,
                     employee_name, medical_paid, medical_reserve,
                     CASE WHEN injury_type = 'MED' THEN 0.0
                          ELSE indemnity_paid_0 END AS indemnity_paid,
                     CASE WHEN injury_type = 'MED' THEN 0.0
                          ELSE indemnity_reserve_0 END AS indemnity_reserve,
                     expense_paid, expense_reserve, recovery, total_incurred
              FROM typed
            ), mathed AS (
              SELECT *,
                  round(least(
                      abs(medical_paid + medical_reserve + indemnity_paid
                          + indemnity_reserve + expense_paid
                          + expense_reserve - recovery - total_incurred),
                      abs(medical_paid + medical_reserve + indemnity_paid
                          + indemnity_reserve + expense_paid
                          + expense_reserve - total_incurred)), 2)
                      AS math_diff
              FROM guarded
            ), flagged AS (
              SELECT *, (math_diff < 1.0) AS math_valid FROM mathed
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY claim_number
                  ORDER BY math_valid DESC, total_incurred DESC) AS rn
              FROM flagged
            )
            SELECT claim_number, status, injury_type, claim_year,
                   employee_name, medical_paid, medical_reserve,
                   indemnity_paid, indemnity_reserve, expense_paid,
                   expense_reserve, recovery, total_incurred, math_diff,
                   math_valid
            FROM ranked WHERE rn = 1
              AND NOT {phantom_pred.format(c='employee_name',
                                           plist=phantoms)}""",
        "financial_validation": _finval_sql(),
        "doc_stats": """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(n_chars) AS BIGINT) AS total_nchars,
                   round(avg(length(text)), 4) AS avg_chars,
                   CAST(sum(len(regexp_split_to_array(text, '\\s+')))
                       AS BIGINT) AS sum_tokens,
                   CAST(sum(length(text) // 4) AS BIGINT) AS sum_est_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                       '''(?:s|t|m|d|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')))
                       AS BIGINT) AS sum_bpe_tokens
            FROM documents GROUP BY source""",
        "quality_score": f"""
            WITH w AS (
              SELECT doc_id, text,
                     len(regexp_split_to_array(text, '\\s+')) AS n_words,
                     len([x for x in regexp_split_to_array(text, '\\s+')
                          if x in ({stop_list})]) AS stop_hits
              FROM documents WHERE doc_id < 100)
            SELECT doc_id, n_words,
                   round(stop_hits / n_words, 4) AS stop_ratio,
                   round((length(text) - (n_words - 1)) / n_words, 4)
                       AS avg_word_len,
                   round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                         'g')) / CAST(length(text) AS DOUBLE), 4)
                       AS punct_ratio,
                   round(1.0 - len(list_distinct(string_split(text,
                         chr(10)))) / CAST(len(string_split(text, chr(10)))
                         AS DOUBLE), 4) AS dup_line_ratio,
                   cast(round(1.0
                       - (CASE WHEN n_words < 30 THEN 0.3 ELSE 0.0 END)
                       - (CASE WHEN round(stop_hits / n_words, 4) < 0.02
                               THEN 0.3 ELSE 0.0 END)
                       - (CASE WHEN round((length(text) - (n_words - 1))
                               / n_words, 4) < 3.0
                               THEN 0.2 ELSE 0.0 END), 2) as double)
                       AS quality_score
            FROM w""",
        "doc_signals": """
            WITH h AS (
              SELECT lang,
                     len(string_split(' ' || text || ' ', ' the ')) - 1 AS en,
                     len(string_split(' ' || text || ' ', ' el '))  - 1 AS es,
                     len(string_split(' ' || text || ' ', ' der ')) - 1 AS de,
                     len(string_split(' ' || text || ' ', ' le '))  - 1 AS fr
              FROM documents)
            SELECT 'langid' AS kind, lang AS key,
                   CASE WHEN en > 0 AND en >= es AND en >= de AND en >= fr
                            THEN 'en'
                        WHEN es > 0 AND es >= de AND es >= fr THEN 'es'
                        WHEN de > 0 AND de >= fr THEN 'de'
                        WHEN fr > 0 THEN 'fr'
                        ELSE 'unknown' END AS s1,
                   count(*) AS n
            FROM h GROUP BY 1, 2, 3
            UNION ALL
            SELECT 'fp', CAST(doc_id AS VARCHAR),
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))),
                   CAST(CASE WHEN length(text) >= 11 THEN
                       len(list_distinct([
                           list_min([md5(substr(text, i + j, 8))
                                     FOR j IN range(0, 4)])
                           FOR i IN range(1, length(text) - 8 + 1 - 4 + 2)
                       ]))
                   ELSE 0 END AS BIGINT)
            FROM documents WHERE doc_id < 100""",
        "decontaminate": f"""
            WITH docs AS (
              SELECT doc_id,
                     CASE WHEN trim(lower(coalesce(text, ''))) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(
                              trim(lower(coalesce(text, ''))), '\\s+')
                     END AS words
              FROM documents WHERE doc_id < 200
            ), grams AS (
              SELECT doc_id,
                     unnest([array_to_string(words[i:i+{_DECON_N - 1}],
                                             ' ')
                             FOR i IN range(1, len(words) - {_DECON_N}
                                            + 2)]) AS gram
              FROM docs WHERE len(words) >= {_DECON_N}
            ), ref AS (
              SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
            ), per AS (
              SELECT g.doc_id, count(*) AS t,
                     count(CASE WHEN r.gram IS NOT NULL THEN 1 END) AS o
              FROM grams g LEFT JOIN ref r USING (gram)
              GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(per.t, 0) AS ngrams_total,
                   coalesce(per.o, 0) AS ngrams_overlapping,
                   CASE WHEN coalesce(per.t, 0) > 0
                        THEN round(per.o / per.t, 4)
                        ELSE 0.0 END AS overlap_frac,
                   coalesce(per.o, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM docs) d LEFT JOIN per USING (doc_id)""",
        "dedup_exact": """
            WITH fp AS (
              SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
                         AS fingerprint,
                     count(*) AS copies, min(doc_id) AS keeper_doc_id
              FROM documents GROUP BY 1)
            SELECT count(*) AS distinct_docs,
                   CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
            FROM fp""",
        "ngram_jaccard_pairs": f"""
            WITH corpus AS (
              SELECT * FROM ({twins}) WHERE (doc_id % 1000) < 50
            ), sh_all AS (
              SELECT doc_id, unnest({shingle3}) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS words
                    FROM corpus)
            ), sh AS (
              SELECT doc_id, sh FROM (
                SELECT doc_id, sh,
                       count(*) OVER (PARTITION BY sh) AS df
                FROM sh_all)
              WHERE df <= {SHINGLE_DF_CAP}
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
            ), pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS inter
              FROM sh a JOIN sh b USING (sh)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.5""",
        "minhash_signatures": f"""
            {_minhash_sig_cte(twins, shingle2)}
            SELECT doc_id, {_minhash_min_exprs()}
            FROM sh GROUP BY doc_id""",
        "lsh_band_pairs": f"""
            {_minhash_sig_cte(twins, shingle2)}, sig AS (
              SELECT doc_id, {_minhash_min_exprs()}
              FROM sh GROUP BY doc_id
            ), bands_all AS (
              {_lsh_bands_union()}
            ), bands AS (
              -- hot-bucket cap, mirroring lsh_pairs_from_signatures
              SELECT doc_id, band_no, bh FROM (
                SELECT doc_id, band_no, bh,
                       count(*) OVER (PARTITION BY band_no, bh) AS bf
                FROM bands_all)
              WHERE bf <= {BAND_FREQ_CAP}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b USING (band_no, bh)
            WHERE a.doc_id < b.doc_id""",
        "simhash64": _simhash64_sql(),
        "ann_topk": f"""
            WITH q AS (SELECT embedding AS q_emb, label AS q_label
                       FROM embeddings WHERE vec_id = 0),
            brute AS (
              SELECT 'brute' AS kind, e.vec_id,
                     CAST(NULL AS INT) AS label, {cos} AS cosine
              FROM embeddings e, q
              WHERE e.vec_id <> 0
              ORDER BY cosine DESC, e.vec_id LIMIT 5),
            ivf AS (
              SELECT 'ivf' AS kind, e.vec_id, e.label, {cos} AS cosine
              FROM embeddings e JOIN q ON e.label = q.q_label
              WHERE e.vec_id <> 0
              ORDER BY cosine DESC, e.vec_id LIMIT 5)
            SELECT * FROM brute UNION ALL SELECT * FROM ivf""",
        "embedding_bucket_stats": """
            SELECT label, count(*) AS n,
                   round(avg(cast(embedding[1] as double)), 4) AS avg_dim1,
                   round(avg(sqrt(list_dot_product(embedding, embedding))),
                         4) AS avg_norm
            FROM embeddings GROUP BY label""",
        "text_line_ops": """
            SELECT doc_id,
                   md5(array_to_string(
                       [reverse(x) for x in string_split(text, chr(10))],
                       chr(10))) AS reversed_md5,
                   (CASE WHEN contains(lower(text), 'troper')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'mialc')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'ycailop')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'oitar')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'ssol')
                         THEN 1 ELSE 0 END
                  + CASE WHEN contains(lower(text), 'diap')
                         THEN 1 ELSE 0 END) >= 2 AS is_rev,
                   length(trim(text)) < 10 AS is_blank,
                   substr(text, 1, 100) AS preview_start,
                   CASE WHEN length(text) >= 50
                        THEN substr(text, length(text) - 49, 50)
                        ELSE text END AS preview_end
            FROM documents WHERE doc_id < 200""",
        "best_record_per_group": """
            SELECT lang, source, doc_id, n_chars
            FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
                      ORDER BY n_chars DESC, doc_id) AS rn
                  FROM documents) WHERE rn = 1""",
        "rotation_vote": f"""
            SELECT CAST(page_no AS BIGINT) AS page_no,
                   CAST(sum(CASE WHEN abs(y1 - y0) > abs(x1 - x0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS vertical_boxes,
                   CAST(sum(CASE WHEN abs(y1 - y0) <= abs(x1 - x0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS horizontal_boxes,
                   CASE WHEN sum(CASE WHEN abs(y1 - y0) > abs(x1 - x0)
                                      THEN 1 ELSE 0 END)
                             > sum(CASE WHEN abs(y1 - y0) <= abs(x1 - x0)
                                        THEN 1 ELSE 0 END)
                        THEN 90 ELSE 0 END AS rotate_deg
            FROM {_values_sql(_BOX_VALUES,
                              ['page_no', 'x0', 'y0', 'x1', 'y1'])}
            GROUP BY page_no""",
        "policy_forward_fill": f"""
            SELECT CAST(line_no AS BIGINT) AS line_no, line,
                   last_value(nullif(regexp_extract(line,
                       'Policy Number: ([A-Z0-9\\-]+)', 1), '')
                       IGNORE NULLS) OVER (ORDER BY line_no
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS policy_number
            FROM {_values_sql(_LINE_VALUES, ['line_no', 'line'])}""",
        "chunk_windows": """
            SELECT doc_id, CAST(start AS BIGINT) AS start,
                   substr(text, start, 100) AS chunk,
                   CAST(length(substr(text, start, 100)) AS BIGINT)
                       AS chunk_len
            FROM (SELECT doc_id, text,
                         unnest(range(1, length(text) + 1, 80)) AS start
                  FROM documents WHERE doc_id < 20)""",
        "scrub_ops": _scrub_ops_sql(),
        "substring_dedup": _substring_dedup_sql(),
        "lm_perplexity": _lm_perplexity_sql(),
        "embedding_near_dup": """
            WITH e AS (SELECT * FROM embeddings WHERE vec_id < 200),
            pairs AS (
              SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(list_dot_product(a.embedding, b.embedding) /
                           (sqrt(list_dot_product(a.embedding, a.embedding))
                            * sqrt(list_dot_product(b.embedding,
                                                    b.embedding))), 4)
                         AS cosine
              FROM e a JOIN e b ON a.label = b.label
              WHERE a.vec_id < b.vec_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY label
                  ORDER BY cosine DESC, vec_a, vec_b) AS rn
              FROM pairs)
            SELECT label, vec_a, vec_b, cosine FROM ranked WHERE rn <= 3""",
        "windowed_event_counts": """
            SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT)
                       AS win_start,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2""",
        "latest_snapshot_per_url": """
            WITH snaps AS (
              SELECT 'https://t.local/doc/' || doc_id AS url, doc_id,
                     n_chars, 1704067200 + doc_id AS warc_ts_s
              FROM documents
              UNION ALL
              SELECT 'https://t.local/doc/' || doc_id, doc_id, n_chars,
                     1704067200 + 86400 + doc_id
              FROM documents WHERE doc_id % 3 = 0
            )
            SELECT url, doc_id, CAST(warc_ts_s AS BIGINT) AS warc_ts_s,
                   n_chars
            FROM (SELECT *, row_number() OVER (PARTITION BY url
                      ORDER BY warc_ts_s DESC) AS rn FROM snaps)
            WHERE rn = 1""",
        "url_normalize": _url_normalize_sql(),
        "micro_ops": _micro_ops_sql(),
        "pq_ivfpq_topk": _pq_ivfpq_topk_sql(),
        "dedup_verdict": _dedup_verdict_sql(),
        "sessionize_events": """
            WITH o AS (
              SELECT user_id, event_id, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS t,
                     lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS prev
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), flagged AS (
              SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800
                             THEN 1 ELSE 0 END AS new_sess
              FROM o
            ), numbered AS (
              SELECT user_id, event_id, t,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS INT) AS session_no
              FROM flagged
            )
            SELECT user_id, session_no, count(*) AS n_events,
                   min(t) AS start_s, max(t) AS end_s,
                   CAST(max(t) - min(t) AS BIGINT) AS duration_s
            FROM numbered GROUP BY user_id, session_no""",
        "chunk_plan": _chunk_plan_sql(),
        "chunk_integrity": _chunk_integrity_sql(),
        "pipeline_documents": _pipeline_documents_sql(),
        "extraction_quality": _extraction_quality_sql(),
        "media_features": _media_features_sql(),
        "pipeline_fixture_claims": _fixture_claims_sql(),
        "claim_id_regex": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                       '\\b(scan|hash|merge)\\b', 1)) AS BIGINT) AS n_ids,
                   CAST(len(list_distinct(regexp_extract_all(text,
                       '\\b(scan|hash|merge)\\b', 1))) AS BIGINT) AS n_distinct
            FROM documents""",
    }
