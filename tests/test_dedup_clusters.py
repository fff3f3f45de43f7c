"""Near-dup clustering: connected components + keeper election
(insurance_pdf_extractor_spark/dedup.py)."""

import random

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

import insurance_pdf_extractor_spark.dedup as D
from insurance_pdf_extractor_spark.dedup import (connected_components,
                                                 dedup_documents)


def _cc_reference(edges, nodes):
    """Pure-python union-find ground truth."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    out = {}
    for n in nodes:
        r = find(n)
        out.setdefault(r, []).append(n)
    return {n: min(mem) for r, mem in out.items() for n in mem}


class TestConnectedComponents:
    def test_chain_and_island(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_cycle(self, spark):
        pairs = spark.createDataFrame(
            [(5, 6), (6, 7), (5, 7)], ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert got == {5: 5, 6: 5, 7: 5}

    @given(st.integers(0, 2**31 - 1), st.integers(0, 40))
    @settings(max_examples=12, deadline=None)
    def test_random_graphs_match_union_find(self, spark, seed, n_edges):
        rng = random.Random(seed)
        nodes = list(range(1, 25))
        edges = [(rng.choice(nodes), rng.choice(nodes))
                 for _ in range(n_edges)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        touched = sorted({n for e in edges for n in e})
        assert got == {n: c for n, c in
                       _cc_reference(edges, touched).items()}


class TestStarAlgorithm:
    """Small-star/large-star convergence on the shapes that stress it:
    deep chains and high-degree hubs."""

    def test_chain_cycle_island_match_union_find(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22),
                 (20, 22)]
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        touched = sorted({n for e in edges for n in e})
        assert got == _cc_reference(edges, touched)

    def test_degenerate_chain_iterations(self, spark):
        """A 200-node path (diameter 199 — far beyond any real near-dup
        component) must converge in O(log diameter) rounds, well under
        the default max_iter=20."""
        n = 200
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n)], ["doc_a", "doc_b"])
        star = connected_components(pairs).collect()
        star_iters = D.LAST_CC_ITERATIONS
        assert all(r["cluster_id"] == 1 for r in star) and len(star) == n
        assert star_iters <= 12, star_iters

    def test_hub_graph(self, spark):
        """A 300-spoke hub (the high-degree shape hot LSH bands emit
        below the cap) collapses in a constant number of star rounds."""
        pairs = spark.createDataFrame(
            [(500, i) for i in range(1, 301)], ["doc_a", "doc_b"])
        got = connected_components(pairs).collect()
        assert len(got) == 301
        assert all(r["cluster_id"] == 1 for r in got)
        assert D.LAST_CC_ITERATIONS <= 4


class TestDedupDocuments:
    def test_singletons_and_keepers(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(1, 8)],
                                     ["doc_id"])
        pairs = spark.createDataFrame([(2, 5), (5, 6)],
                                      ["doc_a", "doc_b"])
        rows = {r["doc_id"]: r for r in
                dedup_documents(docs, pairs).collect()}
        assert rows[2]["cluster_id"] == 2 and rows[2]["is_keeper"]
        assert rows[5]["cluster_id"] == 2 and not rows[5]["is_keeper"]
        assert rows[6]["cluster_id"] == 2 and not rows[6]["is_keeper"]
        for single in (1, 3, 4, 7):
            assert rows[single]["cluster_id"] == single
            assert rows[single]["is_keeper"]
        # exactly one keeper per cluster
        df = dedup_documents(docs, pairs)
        per = (df.groupBy("cluster_id")
               .agg(F.sum(F.col("is_keeper").cast("int")).alias("k"))
               .collect())
        assert all(r["k"] == 1 for r in per)

    def test_lsh_twins_cluster_with_originals(self, spark):
        """End-to-end over the LSH stage: tail-chopped twins must land in
        their original's cluster and lose keeper election to it."""
        import __spark_entry__ as E
        sf = "/root/testdata/sf0.001"
        corpus = E._corpus_with_twins(spark, sf).where(
            (F.col("doc_id") % 1000) < 50)
        pairs = E.q_lsh_band_pairs(spark, sf)
        verdict = dedup_documents(corpus.select("doc_id"), pairs)
        rows = {r["doc_id"]: r for r in verdict.collect()}
        originals = [d for d in rows if d < 100000]
        paired = [d for d in originals
                  if rows.get(d + 100000) is not None
                  and rows[d + 100000]["cluster_id"] == rows[d]["cluster_id"]]
        # LSH at s-curve ~0.5 catches nearly every tail-chop twin
        assert len(paired) >= 0.7 * len(originals)
        # a twin never wins keeper election (its original, id-100000
        # smaller, is in the same cluster — the cluster min is < twin)
        for d in paired:
            assert not rows[d + 100000]["is_keeper"]
        # exactly one keeper per cluster, and it's the min id
        by_cluster: dict[int, list[int]] = {}
        for d, r in rows.items():
            by_cluster.setdefault(r["cluster_id"], []).append(d)
        for cid, members in by_cluster.items():
            keepers = [d for d in members if rows[d]["is_keeper"]]
            assert keepers == [min(members)] and min(members) == cid


class TestCheckpointDir:
    def test_reliable_checkpoint(self, spark, tmp_path):
        """checkpoint_dir switches localCheckpoint → reliable checkpoint
        (fault tolerance at cluster scale); results are identical and the
        directory actually receives checkpoint data."""
        ckpt = str(tmp_path / "ckpt")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(
                   pairs, checkpoint_dir=ckpt).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        import os
        written = [os.path.join(dp, f)
                   for dp, _, fs in os.walk(ckpt) for f in fs]
        assert written, "no checkpoint files written to checkpoint_dir"

    def test_dedup_documents_passthrough(self, spark, tmp_path):
        docs = spark.createDataFrame([(i,) for i in range(1, 5)],
                                     ["doc_id"])
        pairs = spark.createDataFrame([(1, 3)], ["doc_a", "doc_b"])
        rows = {r["doc_id"]: r["is_keeper"] for r in
                dedup_documents(docs, pairs,
                                checkpoint_dir=str(tmp_path / "c2"))
                .collect()}
        assert rows == {1: True, 2: True, 3: False, 4: True}


class TestHotBandCap:
    """VERDICT r3 item 1: degenerate corpora (many documents collapsing
    onto identical band values) must not blow up the candidate join
    quadratically — m members in one bucket emit m² rows uncapped."""

    def _identical_sigs(self, spark, n):
        import __spark_entry__ as E
        row = {f"mh{k:02d}": 7 for k in range(E.MINHASH_PERMS)}
        return spark.createDataFrame(
            [{"doc_id": i, **row} for i in range(n)])

    def test_lsh_degenerate_corpus_stays_linear(self, spark):
        """1 000 identical signatures: every band bucket holds 1 000
        members (> cap) → all dropped → zero candidate pairs instead of
        ~500 000 × 16 join rows."""
        import __spark_entry__ as E
        sig = self._identical_sigs(spark, 1000)
        assert E.lsh_pairs_from_signatures(sig).count() == 0
        # the report names what was dropped: 16 buckets of 1 000
        over = E.lsh_band_overflow(sig).collect()
        assert len(over) == E.LSH_BANDS
        assert all(r["members"] == 1000 for r in over)

    def test_lsh_under_cap_unaffected(self, spark):
        """A small identical group (below the cap) still pairs fully."""
        import __spark_entry__ as E
        sig = self._identical_sigs(spark, 5)
        assert E.lsh_pairs_from_signatures(sig).count() == 10  # C(5,2)
        assert E.lsh_band_overflow(sig).count() == 0

    def test_lsh_cap_disabled(self, spark):
        import __spark_entry__ as E
        sig = self._identical_sigs(spark, 30)
        assert E.lsh_pairs_from_signatures(
            sig, band_cap=10).count() == 0
        assert E.lsh_pairs_from_signatures(
            sig, band_cap=None).count() == 30 * 29 // 2

    def test_simhash_degenerate_corpus_stays_linear(self, spark):
        from insurance_pdf_extractor_spark.dedup import simhash_near_pairs
        sig = spark.createDataFrame(
            [(i, "0" * 16) for i in range(1000)], ["doc_id", "simhash"])
        assert simhash_near_pairs(sig).count() == 0
        # under the cap: full pairing preserved
        small = spark.createDataFrame(
            [(i, "0" * 16) for i in range(6)], ["doc_id", "simhash"])
        assert simhash_near_pairs(small).count() == 15  # C(6,2)
        # cap off restores the uncapped behaviour
        assert simhash_near_pairs(
            sig, band_cap=None).count() == 1000 * 999 // 2


class TestSimhashNearPairs:
    def test_exact_within_3_bits(self, spark):
        from insurance_pdf_extractor_spark.dedup import simhash_near_pairs
        sig = spark.createDataFrame([
            (1, "0000000000000000"),
            (2, "0000000000000001"),   # 1 bit from #1
            (3, "0000000000000007"),   # 3 bits from #1, 2 from #2
            (4, "ffffffffffffffff"),   # far from all
            (5, "fffffffffffffffe"),   # 1 bit from #4
        ], ["doc_id", "simhash"])
        got = {(r["doc_a"], r["doc_b"]): r["hamming"]
               for r in simhash_near_pairs(sig, max_hamming=3).collect()}
        assert got == {(1, 2): 1, (1, 3): 3, (2, 3): 2, (4, 5): 1}

    def test_threshold_guard(self, spark):
        import pytest
        from insurance_pdf_extractor_spark.dedup import simhash_near_pairs
        sig = spark.createDataFrame([(1, "0" * 16)], ["doc_id", "simhash"])
        with pytest.raises(ValueError):
            simhash_near_pairs(sig, max_hamming=4)

    def test_over_registry_signatures(self, spark):
        """Chain from the registry's simhash64 signatures: identical
        texts pair at distance 0 and cluster together."""
        import __spark_entry__ as E
        from insurance_pdf_extractor_spark.dedup import (
            connected_components, simhash_near_pairs)
        sig = E.q_simhash64(spark, "/root/testdata/sf0.001")
        pairs = simhash_near_pairs(sig, max_hamming=3)
        rows = pairs.collect()
        sig_map = {r["doc_id"]: r["simhash"] for r in sig.collect()}
        for r in rows:
            a, b = sig_map[r["doc_a"]], sig_map[r["doc_b"]]
            ham = sum(bin(int(x, 16) ^ int(y, 16)).count("1")
                      for x, y in zip(a, b))
            assert ham == r["hamming"] <= 3
        if rows:
            comp = connected_components(pairs)
            assert comp.count() > 0


class TestDedupParagraphs:
    """Corpus-wide exact paragraph dedup (dedup.py dedup_paragraphs) —
    CCNet-style line-level boilerplate removal."""

    ROWS = [
        (1, "BANNER\nalpha one\n \nalpha two\nFOOTER"),
        (2, "BANNER\nbeta keeps this\nFOOTER"),
        (3, "BANNER\nFOOTER"),
        (4, "twice here\nmiddle stays\ntwice here\n"),
        (5, "entirely unique single paragraph"),
        (6, None),
    ]

    def _run(self, spark, **kw):
        df = spark.createDataFrame(self.ROWS, "doc_id int, text string")
        out = D.dedup_paragraphs(df, **kw)
        return {r["doc_id"]: r for r in out.collect()}, out

    def test_corpus_wide_boilerplate_removed_order_kept(self, spark):
        got, _ = self._run(spark)
        assert got[1]["text_kept"] == "alpha one\n \nalpha two"
        assert got[2]["text_kept"] == "beta keeps this"
        assert (got[1]["paras_total"], got[1]["paras_dropped"]) == (5, 2)

    def test_all_boilerplate_doc_becomes_empty(self, spark):
        got, _ = self._run(spark)
        assert got[3]["text_kept"] == ""
        assert (got[3]["paras_total"], got[3]["paras_dropped"]) == (2, 2)

    def test_within_doc_repeat_counts_toward_corpus(self, spark):
        got, _ = self._run(spark)
        # "twice here" occurs twice in doc 4 alone -> dropped; trailing
        # newline yields a final empty paragraph that survives.
        assert got[4]["text_kept"] == "middle stays\n"
        assert (got[4]["paras_total"], got[4]["paras_dropped"]) == (4, 2)

    def test_unique_doc_untouched_null_passthrough(self, spark):
        got, _ = self._run(spark)
        assert got[5]["text_kept"] == self.ROWS[4][1]
        assert got[5]["paras_dropped"] == 0
        assert got[6]["text_kept"] is None
        assert (got[6]["paras_total"], got[6]["paras_dropped"]) == (0, 0)

    def test_whitespace_paragraphs_never_deduped(self, spark):
        rows = [(1, "a\n \nb"), (2, "c\n \nd"), (3, "\n\n")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        got = {r["doc_id"]: r for r in D.dedup_paragraphs(df).collect()}
        assert got[1]["text_kept"] == "a\n \nb"
        assert got[3]["text_kept"] == "\n\n"
        assert all(got[i]["paras_dropped"] == 0 for i in (1, 2, 3))

    def test_min_count_threshold(self, spark):
        got, _ = self._run(spark, min_count=3)
        # BANNER occurs 3x, FOOTER 3x, "twice here" only 2x
        assert got[4]["text_kept"].startswith("twice here")
        assert got[2]["text_kept"] == "beta keeps this"

    def test_plan_is_udf_free_and_one_para_agg(self, spark):
        _, out = self._run(spark)
        plan = out._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas", "MapInArrow"):
            assert marker not in plan
        # hot-list aggregation must have a map-side partial combine so
        # 10^9-row banner keys collapse before the shuffle
        assert "partial_count" in plan or "HashAggregate" in plan
