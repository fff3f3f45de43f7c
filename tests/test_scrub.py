"""PII scrubbing + repetition screening (scrub.py).

Reference anchor: the quality/filter family of SURVEY.md §2.2 (F5-F7)
and the builder brief's text-analysis mandate — the reference engine has
no PII pass (its docs go to a paid API verbatim); a training-data
pipeline cannot ship without one.
"""

import pytest

from insurance_pdf_extractor_spark.scrub import (
    GOPHER_DUP_NGRAM_NS, GOPHER_REPETITION_THRESHOLDS, PII_PATTERNS,
    gopher_repetition_keepers, gopher_repetition_stats,
    repeated_ngram_stats, scrub_pii)

_PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
               "MapInArrow", "FlatMapGroupsInPandas")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def scrubbed(spark):
    rows = [
        (1, "mail jane.doe+claims@example.com, call 555-123-4567."),
        (2, "SSN 123-45-6789 on file; backup phone (415) 555-0199."),
        (3, "Card 4111 1111 1111 1111 charged from 192.168.1.100."),
        (4, "No sensitive data here, just a claim for $1,200."),
        (5, "Overlap: 123-45-6789 is an SSN, not phone 123-456-7890."),
        (6, "Card without separators 4111111111111111 and 1-800-555-0123."),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = scrub_pii(df)
    return {r["id"]: r for r in out.collect()}, out


class TestScrubPii:
    def test_email_and_phone(self, scrubbed):
        r = scrubbed[0][1]
        assert r["text_scrubbed"] == "mail [EMAIL], call [PHONE]."
        assert r["pii_counts"]["email"] == 1
        assert r["pii_counts"]["phone"] == 1

    def test_ssn_never_half_eaten_by_phone(self, scrubbed):
        """Most-specific-first: 123-45-6789 is one [SSN] token, not a
        phone-pattern partial match; the genuine phone in the same doc
        still redacts."""
        r = scrubbed[0][5]
        assert "[SSN]" in r["text_scrubbed"]
        assert "[PHONE]" in r["text_scrubbed"]
        assert r["pii_counts"]["ssn"] == 1
        assert r["pii_counts"]["phone"] == 1
        # no digits of the SSN survive
        assert "45" not in r["text_scrubbed"]

    def test_card_before_phone(self, scrubbed):
        """A 16-digit card (spaced or contiguous) is one [CARD] token —
        the looser phone pattern never eats a 10-digit slice of it."""
        for doc, expect_ip in ((3, True), (6, False)):
            r = scrubbed[0][doc]
            assert r["pii_counts"]["card"] == 1
            assert "[CARD]" in r["text_scrubbed"]
        assert scrubbed[0][3]["pii_counts"]["ip"] == 1
        assert scrubbed[0][6]["pii_counts"]["phone"] == 1  # 1-800 number

    def test_clean_doc_untouched(self, scrubbed):
        r = scrubbed[0][4]
        assert r["text_scrubbed"] == r["text"]
        assert all(v == 0 for v in r["pii_counts"].values())

    def test_null_text(self, scrubbed):
        r = scrubbed[0][7]
        assert r["text_scrubbed"] is None
        assert all(v == 0 for v in r["pii_counts"].values())

    def test_counts_cover_every_pattern(self, scrubbed):
        names = {n for n, _, _ in PII_PATTERNS}
        assert set(scrubbed[0][1]["pii_counts"].keys()) == names

    def test_plan_is_udf_free(self, scrubbed):
        plan = _plan(scrubbed[1])
        assert not any(m in plan for m in _PY_MARKERS), plan


class TestRepeatedNgramStats:
    def test_template_doc_flagged(self, spark):
        df = spark.createDataFrame(
            [(1, "spam spam spam spam unique tail")],
            "doc_id int, text string")
        r = repeated_ngram_stats(df).first()
        assert r["top_ngram"] == "spam spam"
        assert r["top_count"] == 3
        # 3 occurrences x 9 chars / 31 chars
        assert r["top_char_frac"] == pytest.approx(27 / 31, abs=1e-4)

    def test_tie_breaks_to_smallest_gram(self, spark):
        df = spark.createDataFrame([(1, "b a b a")],
                                   "doc_id int, text string")
        r = repeated_ngram_stats(df).first()
        # 'b a' x2, 'a b' x1 -> count wins first; and a genuine tie:
        df2 = spark.createDataFrame([(2, "x y z")],
                                    "doc_id int, text string")
        r2 = repeated_ngram_stats(df2).first()
        assert r2["top_ngram"] == "x y"  # 'x y' < 'y z', both count 1
        assert r["top_ngram"] == "b a"

    def test_short_and_empty_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, None)], "doc_id int, text string")
        rows = {r["doc_id"]: r for r in repeated_ngram_stats(df).collect()}
        for i in (1, 2, 3):
            assert rows[i]["top_ngram"] is None
            assert rows[i]["top_count"] == 0
            assert rows[i]["top_char_frac"] == 0.0

    def test_trigram_mode(self, spark):
        df = spark.createDataFrame([(1, "a b c a b c a b c")],
                                   "doc_id int, text string")
        r = repeated_ngram_stats(df, n=3).first()
        assert r["top_ngram"] == "a b c"
        assert r["top_count"] == 3

    def test_plan_is_udf_free(self, spark):
        df = spark.createDataFrame([(1, "a b a b")],
                                   "doc_id int, text string")
        plan = _plan(repeated_ngram_stats(df))
        assert not any(m in plan for m in _PY_MARKERS), plan

    def test_one_shuffle_for_the_gram_agg(self, spark):
        """The (doc, gram) aggregation is the only exchange below the
        per-doc window (map-side partial agg applies); no join, no
        second explode."""
        df = spark.createDataFrame([(1, "a b a b")],
                                   "doc_id int, text string")
        plan = _plan(repeated_ngram_stats(df))
        assert "Generate" in plan          # the explode
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" not in plan

    def test_top_char_frac_capped_at_one(self, spark):
        """The Gopher-reproduction count×len formula double-counts
        characters shared by overlapping occurrences ('spam spam spam'
        puts each inner word in two bigrams) and can exceed 1.0 — the
        metric is documented as capped (ADVICE r6)."""
        df = spark.createDataFrame([(1, "spam spam spam spam spam")],
                                   "doc_id int, text string")
        r = repeated_ngram_stats(df).first()
        # raw formula: 4 occurrences x 9 chars = 36 > 24 chars of text
        assert r["top_char_frac"] == 1.0


class TestGopherRepetitionStats:
    """The rest of the Gopher §A1.1 family (Rae et al. 2021): duplicate
    lines + duplicated-n-gram character coverage, n = 5..10."""

    @pytest.fixture(scope="class")
    def stats(self, spark):
        rows = [
            # 3 content lines, one repeated: dup_line_frac = 1/3;
            # chars 10+10+5, dup 10 → dup_line_char_frac = 0.4
            (1, "alpha beta\nalpha beta\ngamma"),
            # 13 words; 'one two three four five six' repeats → words
            # 0..11 covered for n=5 and 6; chars 44 of 48 → 0.9167
            (2, "one two three four five six "
                "one two three four five six tail"),
            (3, "all unique words here no repeats at all today ok"),
            (4, ""),
            (5, None),
            # whitespace-only lines are formatting, not content: the
            # repeated empty line must not count as a duplicate
            (6, "real line\n\n\nreal line\n\n"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = gopher_repetition_stats(df)
        return {r["doc_id"]: r for r in out.collect()}, out

    def test_duplicate_line_fractions(self, stats):
        r = stats[0][1]
        assert r["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-4)
        assert r["dup_line_char_frac"] == pytest.approx(0.4, abs=1e-4)

    def test_dup_ngram_coverage(self, stats):
        r = stats[0][2]
        assert r["dup_ngram_char_frac_05"] == pytest.approx(44 / 48,
                                                            abs=1e-4)
        assert r["dup_ngram_char_frac_06"] == pytest.approx(44 / 48,
                                                            abs=1e-4)
        # no 7-gram repeats
        assert r["dup_ngram_char_frac_07"] == 0.0

    def test_clean_doc_all_zero(self, stats):
        r = stats[0][3]
        assert r["dup_line_frac"] == 0.0
        assert all(r[f"dup_ngram_char_frac_{n:02d}"] == 0.0
                   for n in GOPHER_DUP_NGRAM_NS)

    def test_empty_and_null_text(self, stats):
        for doc in (4, 5):
            r = stats[0][doc]
            assert r["dup_line_frac"] == 0.0
            assert r["dup_line_char_frac"] == 0.0

    def test_blank_lines_not_duplicates(self, stats):
        """Doc 6 repeats 'real line' (2 of 2 content lines are one dup
        pair → 1/2) — the three blank lines must not inflate it."""
        r = stats[0][6]
        assert r["dup_line_frac"] == 0.5

    def test_every_doc_returns_one_row(self, stats):
        assert set(stats[0].keys()) == {1, 2, 3, 4, 5, 6}

    def test_coverage_never_exceeds_one(self, stats):
        """Overlap-exact coverage is a real fraction by construction —
        the property the count×len formula lacks."""
        df_rows = stats[0].values()
        for r in df_rows:
            for n in GOPHER_DUP_NGRAM_NS:
                assert 0.0 <= r[f"dup_ngram_char_frac_{n:02d}"] <= 1.0

    def test_plan_is_udf_free(self, stats):
        plan = _plan(stats[1])
        assert not any(m in plan for m in _PY_MARKERS), plan

    def test_keepers_gate(self, spark):
        """gopher_repetition_keepers: spam fails, clean passes, and a
        short clean doc is NOT killed by its single-occurrence top
        n-gram (count ≥ 2 guard, as in the public reproductions)."""
        rows = [
            (1, " ".join(["buy cheap pills online now"] * 25)),
            (2, "The adjuster reviewed the file and approved the "
                "settlement after checking every single document."),
            (3, "Short clean sentence."),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        kept = {r["doc_id"]
                for r in gopher_repetition_keepers(df).collect()}
        assert kept == {2, 3}

    def test_two_keepers_outputs_in_one_action(self, spark):
        """Each call observes under its own name: a union of two keepers
        outputs runs as one action instead of failing on a duplicated
        metric name."""
        spam = " ".join(["buy cheap pills online now"] * 25)
        a = spark.createDataFrame(
            [(1, spam), (2, "A clean claim narrative about a burst pipe.")],
            "doc_id int, text string")
        b = spark.createDataFrame(
            [(3, "Another clean and entirely ordinary claim report.")],
            "doc_id int, text string")
        both = gopher_repetition_keepers(a).union(
            gopher_repetition_keepers(b))
        assert {r["doc_id"] for r in both.collect()} == {2, 3}

    def test_thresholds_cover_the_family(self):
        keys = set(GOPHER_REPETITION_THRESHOLDS)
        assert {"dup_line_frac", "dup_line_char_frac"} <= keys
        assert {f"dup_ngram_char_frac_{n:02d}"
                for n in GOPHER_DUP_NGRAM_NS} <= keys
        assert {f"top_ngram_char_frac_{n}" for n in (2, 3, 4)} <= keys

    def test_stats_plan_is_a_pure_projection(self, stats):
        """r8: every Gopher line/dup signal is per-document, so the
        whole screen must plan as a narrow per-row projection — no
        explode (the r7 shape scanned the text through a tagged
        Generate) and no computed shuffle (the r7 shape aggregated
        corpus-wide occurrence rows ~40× the text bytes). The only
        exchange permitted is the input-spread repartition of the raw
        (id, text) rows, which EnsureRequirements never inserts —
        anything it does insert means an agg/join/window snuck back."""
        plan = _plan(stats[1])
        assert "Generate" not in plan, plan
        assert "ENSURE_REQUIREMENTS" not in plan, plan
        import re
        n_exchanges = len(re.findall(r"\+- Exchange", plan))
        n_spreads = plan.count("REPARTITION_BY_NUM")
        assert n_exchanges == n_spreads, plan

    def test_keepers_single_text_exchange(self, spark):
        """r8: the keepers' only exchange is the cluster_by of the TEXT
        feeding the top screens — occurrence rows never shuffle, and
        the rowwise dup/line side contributes no Generate."""
        df = spark.createDataFrame(
            [(i, "a b c d e f g h i j k l m n o p") for i in range(4)],
            "doc_id int, text string")
        plan = _plan(gopher_repetition_keepers(df))
        import re
        # the text repartition + the broadcast/sort-merge of the final
        # per-doc join are fine; no hashpartitioning keyed on gh may
        # appear (that would be an occurrence shuffle)
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert not any("gh#" in p for p in parts), parts
        assert plan.count("Generate") == 1, plan   # the ONE tagged explode


class TestDecontamination:
    """Eval-set decontamination (scrub.ngram_overlap_stats /
    decontaminate_keepers — Brown et al. 2020 App. C 13-gram rule)."""

    EVAL = ("what is the capital of france the answer is paris "
            "of course")

    @pytest.fixture(scope="class")
    def decon(self, spark):
        from insurance_pdf_extractor_spark.scrub import (
            ngram_overlap_stats)
        docs = spark.createDataFrame([
            (1, f"Training text contains {self.EVAL} verbatim leak."),
            (2, "Totally clean training document with original "
                "content and nothing shared with any benchmark."),
            (3, "short doc"),
            (4, None),
            (5, "What IS the Capital of France the ANSWER is Paris "
                "of course wrapped differently."),
        ], "doc_id int, text string")
        ref = spark.createDataFrame(
            [(self.EVAL,),
             ("another eval question entirely unrelated to anything "
              "in the training set at all",)], "text string")
        out = ngram_overlap_stats(docs, ref, n=11)
        return docs, ref, out, {r["doc_id"]: r for r in out.collect()}

    def test_verbatim_leak_flagged(self, decon):
        _, _, _, by = decon
        assert by[1]["contaminated"] is True
        assert by[1]["ngrams_overlapping"] == 2   # 11-gram windows hit
        assert by[1]["ngrams_total"] == 7         # 17 words
        assert by[1]["overlap_frac"] == 0.2857

    def test_case_and_wrap_insensitive(self, decon):
        # the leak re-cased and embedded in a different sentence still
        # matches (lower+\s+ normalization on both sides)
        _, _, _, by = decon
        assert by[5]["contaminated"] is True
        assert by[5]["overlap_frac"] == 0.5

    def test_clean_short_null_untouched(self, decon):
        _, _, _, by = decon
        for d in (2, 3, 4):
            assert by[d]["contaminated"] is False
            assert by[d]["ngrams_overlapping"] == 0
            assert by[d]["overlap_frac"] == 0.0
        assert by[3]["ngrams_total"] == 0       # < n words
        assert by[4]["ngrams_total"] == 0       # null text

    def test_keepers_default_any_overlap_drops(self, decon):
        from insurance_pdf_extractor_spark.scrub import (
            decontaminate_keepers)
        docs, ref, _, _ = decon
        kept = {r["doc_id"]
                for r in decontaminate_keepers(docs, ref, n=11)
                .collect()}
        assert kept == {2, 3, 4}

    def test_plan_broadcast_ref_and_udf_free(self, decon):
        # the ref side must broadcast (training side never shuffles
        # before the per-doc agg) and nothing drops to Python
        _, _, out, _ = decon
        plan = _plan(out)
        assert not any(m in plan for m in _PY_MARKERS), plan
        assert "BroadcastHashJoin" in plan, plan

    def test_n_validation(self, decon):
        from insurance_pdf_extractor_spark.scrub import (
            ngram_overlap_stats)
        docs, ref, _, _ = decon
        with pytest.raises(ValueError):
            ngram_overlap_stats(docs, ref, n=0)

    def test_shuffle_ref_path_matches_broadcast(self, decon):
        """broadcast_ref=False (refs too big to broadcast) must produce
        identical stats through the shuffle equi-join."""
        from insurance_pdf_extractor_spark.scrub import (
            ngram_overlap_stats)
        docs, ref, _, by = decon
        alt = {r["doc_id"]: r
               for r in ngram_overlap_stats(docs, ref, n=11,
                                            broadcast_ref=False)
               .collect()}
        assert set(alt) == set(by)
        for d in by:
            for c in ("ngrams_total", "ngrams_overlapping",
                      "overlap_frac", "contaminated"):
                assert alt[d][c] == by[d][c], (d, c)
