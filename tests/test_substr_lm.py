"""Exact duplicated-substring removal (dedup.dedup_substrings, Lee et
al. 2022 ExactSubstr) and unigram-LM quality scoring (lm.py, the CCNet
§4.3 perplexity-gate surface).

Reference anchor: the builder brief's training-data-pipeline mandate
(dedup + quality scoring families); the reference engine itself filters
on per-doc quality (SURVEY.md §2.2 A11) — the LM scorer is the corpus-
trained generalization.
"""

import math

import pytest

from insurance_pdf_extractor_spark.dedup import dedup_substrings
from insurance_pdf_extractor_spark.lm import (ppl_buckets, unigram_fit,
                                              unigram_doc_scores)

_PY_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
               "MapInArrow", "FlatMapGroupsInPandas")

_BOILER = ("please accept our terms of service before continuing "
           "to the site")  # 10 words


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def substr_out(spark):
    rows = [
        (1, f"unique alpha text one {_BOILER} tail words here now"),
        (2, f"different beta opening {_BOILER} other ending entirely"),
        (3, "self repeat one two three four five six seven eight nine "
            "ten MID one two three four five six seven eight nine ten"),
        (4, _BOILER),
        (5, "too short"),
        (6, None),
        (7, "   "),
        (8, "totally original content nothing shared with anything "
            "else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = dedup_substrings(df, k=10)
    return df, out, {r["doc_id"]: r for r in out.collect()}


class TestDedupSubstrings:
    def test_cross_doc_span_removed_from_every_host(self, substr_out):
        _, _, by = substr_out
        assert by[1]["text_kept"] == \
            "unique alpha text one tail words here now"
        assert by[2]["text_kept"] == \
            "different beta opening other ending entirely"
        for d in (1, 2):
            assert by[d]["words_removed"] == 10 + 1  # overlap widens
            assert by[d]["spans_removed"] == 1

    def test_within_doc_repeat_counts_as_duplicate(self, substr_out):
        # Lee et al. remove ANY substring occurring >= 2 times in the
        # corpus, including both occurrences inside one document
        _, _, by = substr_out
        assert by[3]["text_kept"] == "self repeat MID"
        assert by[3]["spans_removed"] == 2
        assert by[3]["words_removed"] == 20

    def test_fully_duplicated_doc_empties(self, substr_out):
        _, _, by = substr_out
        assert by[4]["text_kept"] == ""
        assert by[4]["words_removed"] == by[4]["words_total"] == 11

    def test_untouched_docs_keep_original_bytes(self, substr_out):
        # whitespace is preserved verbatim when nothing was removed
        _, _, by = substr_out
        assert by[5]["text_kept"] == "too short"
        assert by[7]["text_kept"] == "   "
        assert by[7]["words_total"] == 0
        assert by[8]["words_removed"] == 0

    def test_null_text_stays_null(self, substr_out):
        _, _, by = substr_out
        assert by[6]["text_kept"] is None
        assert by[6]["words_total"] == 0

    def test_row_count_preserved(self, substr_out):
        df, out, _ = substr_out
        assert out.count() == df.count()

    def test_k_validation(self, substr_out):
        df, _, _ = substr_out
        with pytest.raises(ValueError):
            dedup_substrings(df, k=1)
        with pytest.raises(ValueError):
            dedup_substrings(df, min_count=1)

    def test_plan_udf_free_and_hashed_shuffle(self, substr_out):
        # zero Python in the plan; the corpus-wide dup detection
        # shuffles xxhash64 keys, never the k-word gram strings
        _, out, _ = substr_out
        plan = _plan(out)
        assert not any(m in plan for m in _PY_MARKERS), plan
        logical = out._jdf.queryExecution().optimizedPlan().toString()
        assert "xxhash64" in logical

    def test_longer_shared_block_merges_to_one_span(self, spark):
        # a 14-word shared block is covered by 5 overlapping 10-word
        # windows that must merge into ONE maximal span
        block = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lambda mu nu xi")
        rows = [(1, f"start {block} end one"),
                (2, f"other {block} tail two")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        by = {r["doc_id"]: r
              for r in dedup_substrings(df, k=10).collect()}
        assert by[1]["text_kept"] == "start end one"
        assert by[1]["spans_removed"] == 1
        assert by[1]["words_removed"] == 14


@pytest.fixture(scope="module")
def lm_fixture(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the rug"),
        (3, "The CAT sat"),                    # lowercased -> in-vocab
        (4, "zyzzyva qwerty plugh"),           # all OOV
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    model = unigram_fit(docs, vocab_size=4)
    scores = unigram_doc_scores(docs, model)
    return docs, model, scores, {r["doc_id"]: r for r in scores.collect()}


class TestUnigramLM:
    def test_fit_top_k_with_deterministic_ties(self, lm_fixture):
        _, model, _, _ = lm_fixture
        got = {r["tok"]: r["cnt"] for r in model.collect()}
        # counts: the=5 sat=3 cat=2 on=2 then (dog,mat,rug,..)=1 tied —
        # vocab_size=4 cuts at the count-desc, token-asc boundary
        assert got == {"the": 5, "sat": 3, "cat": 2, "on": 2}

    def test_scores_match_closed_form(self, lm_fixture):
        _, _, _, by = lm_fixture
        n, v = 12, 4   # sum of vocab counts, vocab rows
        p = {"the": 6 / 17, "sat": 4 / 17, "cat": 3 / 17, "on": 3 / 17}
        oov = 1 / 17
        toks = ["the", "cat", "sat", "on", "the", "mat"]
        lps = [math.log(p.get(t, oov)) for t in toks]
        nll = -sum(lps) / len(lps)
        assert by[1]["nll"] == round(nll, 4)
        assert by[1]["ppl"] == round(math.exp(nll), 4)
        assert by[1]["oov_frac"] == round(1 / 6, 4)
        assert by[1]["n_tokens"] == 6

    def test_all_oov_doc_scores_worst(self, lm_fixture):
        _, _, _, by = lm_fixture
        assert by[4]["oov_frac"] == 1.0
        assert by[4]["ppl"] == round(17.0, 4)  # 1/p_oov
        assert by[4]["ppl"] > by[1]["ppl"]

    def test_empty_and_null_docs(self, lm_fixture):
        _, _, _, by = lm_fixture
        for d in (5, 6):
            assert by[d]["n_tokens"] == 0
            assert by[d]["nll"] is None and by[d]["ppl"] is None
            assert by[d]["oov_frac"] == 0.0

    def test_case_folding(self, lm_fixture):
        _, _, _, by = lm_fixture
        assert by[3]["oov_frac"] == 0.0   # "The CAT sat" all in-vocab

    def test_buckets_cover_and_order(self, lm_fixture):
        _, _, scores, _ = lm_fixture
        rows = {r["doc_id"]: r for r in ppl_buckets(scores).collect()}
        assert rows[4]["bucket"] == "tail"      # all-OOV = worst ppl
        assert rows[1]["bucket"] == "head"      # most in-vocab mass
        for d in (5, 6):                        # null ppl -> tail
            assert rows[d]["bucket"] == "tail"
        assert {r["bucket"] for r in rows.values()} <= \
            {"head", "middle", "tail"}

    def test_plan_broadcast_vocab_and_udf_free(self, lm_fixture):
        _, _, scores, _ = lm_fixture
        plan = _plan(scores)
        assert not any(m in plan for m in _PY_MARKERS), plan
        # the vocab join and the totals crossJoin must both broadcast —
        # "the" never shuffles
        assert "BroadcastHashJoin" in plan or \
            "BroadcastNestedLoopJoin" in plan
        assert plan.count("BroadcastExchange") >= 2

    def test_vocab_size_validation(self, lm_fixture):
        docs, _, _, _ = lm_fixture
        with pytest.raises(ValueError):
            unigram_fit(docs, vocab_size=0)

    def test_fit_is_distributed_topk(self, lm_fixture):
        # orderBy().limit() must compile to TakeOrderedAndProject, not
        # a single-partition global sort
        docs, model, _, _ = lm_fixture
        assert "TakeOrderedAndProject" in _plan(model)


class TestSubstrProperties:
    """Hypothesis invariants for dedup_substrings over random corpora:
    output words are always a subset of input words in order, counts
    reconcile, and untouched docs are byte-identical."""

    @staticmethod
    def _corpus(seed: int, n_docs: int):
        import random
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        shared = " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 12)))
        rows = []
        for d in range(n_docs):
            words = [rng.choice(vocab)
                     for _ in range(rng.randint(0, 25))]
            if rng.random() < 0.5:
                pos = rng.randint(0, len(words))
                words[pos:pos] = shared.split()
            rows.append((d, " ".join(words)))
        return rows

    from hypothesis import given, settings, strategies as st

    @given(st.integers(0, 2**31 - 1))
    @settings(max_examples=5, deadline=None)
    def test_invariants(self, spark, seed):
        from insurance_pdf_extractor_spark.dedup import dedup_substrings
        rows = self._corpus(seed, 8)
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r
               for r in dedup_substrings(df, k=5).collect()}
        assert len(out) == len(rows)
        for d, text in rows:
            r = out[d]
            in_words = text.split()
            assert r["words_total"] == len(in_words)
            assert 0 <= r["words_removed"] <= r["words_total"]
            assert r["spans_removed"] <= r["words_removed"]
            if r["words_removed"] == 0:
                assert r["text_kept"] == text      # byte-identical
            else:
                kept = r["text_kept"].split()
                assert len(kept) == \
                    r["words_total"] - r["words_removed"]
                # kept words are an order-preserving subsequence
                it = iter(in_words)
                assert all(w in it for w in kept)

    @given(st.integers(0, 2**31 - 1))
    @settings(max_examples=3, deadline=None)
    def test_deterministic(self, spark, seed):
        from insurance_pdf_extractor_spark.dedup import dedup_substrings
        df = spark.createDataFrame(self._corpus(seed, 6),
                                   "doc_id int, text string")
        a = sorted(map(tuple, dedup_substrings(df, k=5).collect()))
        b = sorted(map(tuple, dedup_substrings(df, k=5).collect()))
        assert a == b


class TestDecontamProperties:
    from hypothesis import given, settings, strategies as st

    @given(st.integers(0, 2**31 - 1))
    @settings(max_examples=5, deadline=None)
    def test_partition_and_bounds(self, spark, seed):
        """keepers + contaminated partition the corpus; fractions stay
        in [0,1]; a doc that IS a ref doc (>= n words) is always
        contaminated."""
        import random
        from insurance_pdf_extractor_spark.scrub import (
            decontaminate_keepers, ngram_overlap_stats)
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(40)]
        rows = [(d, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(0, 20))))
                for d in range(10)]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        ref = docs.where("doc_id = 0").select("text")
        stats = {r["doc_id"]: r
                 for r in ngram_overlap_stats(docs, ref, n=5).collect()}
        kept = {r["doc_id"]
                for r in decontaminate_keepers(docs, ref, n=5).collect()}
        flagged = {d for d, r in stats.items() if r["contaminated"]}
        assert kept | flagged == set(stats)
        assert kept & flagged == set()
        for r in stats.values():
            assert 0.0 <= r["overlap_frac"] <= 1.0
            assert r["ngrams_overlapping"] <= r["ngrams_total"]
        if len(rows[0][1].split()) >= 5:
            assert 0 in flagged
            assert stats[0]["overlap_frac"] == 1.0
