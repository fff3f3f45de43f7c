"""End-to-end pipeline invariants: normalization, dedup, lineage, resume."""

import os

import pytest
from pyspark.sql import functions as F


class TestClaimsSemantics:
    def test_status_normalized(self, pipeline_result):
        vals = {r[0] for r in
                pipeline_result.claims.select("status").distinct().collect()}
        assert vals <= {"Open", "Closed", "Reopened", None}

    def test_injury_type_normalized(self, pipeline_result):
        vals = {r[0] for r in pipeline_result.claims
                .select("injury_type").distinct().collect()}
        assert vals <= {"MED", "COMP", None}

    def test_med_guardrail(self, pipeline_result):
        bad = (pipeline_result.claims
               .where((F.col("injury_type") == "MED")
                      & ((F.col("indemnity_paid") != 0.0)
                         | (F.col("indemnity_reserve") != 0.0))).count())
        assert bad == 0

    def test_no_phantom_names(self, pipeline_result):
        from insurance_pdf_extractor_spark.funcs import is_phantom_name
        assert pipeline_result.claims.where(
            is_phantom_name(F.col("employee_name"))).count() == 0

    def test_dedup_unique_per_doc(self, pipeline_result):
        dup = (pipeline_result.claims.groupBy("url", "claim_number")
               .count().where(F.col("count") > 1).count())
        assert dup == 0

    def test_names_last_first(self, pipeline_result):
        rows = pipeline_result.claims.where(
            F.col("employee_name").isNotNull()).select("employee_name").collect()
        assert rows
        for r in rows:
            assert "," in r[0], r[0]

    def test_claim_year_consistent(self, pipeline_result):
        rows = (pipeline_result.claims
                .where(F.col("injury_date_time").isNotNull()
                       & F.col("claim_year").isNotNull())
                .select("injury_date_time", "claim_year").collect())
        assert rows
        for r in rows:
            assert str(r["claim_year"]) in r["injury_date_time"]

    def test_math_checksum(self, pipeline_result):
        # math_valid is the PRE-repair verdict: recompute only for rows no
        # repair touched (paid != reserve duplicates aside, this fixture set
        # has no recovery), where the checksum must agree.
        rows = pipeline_result.claims.select(
            "medical_paid", "medical_reserve", "indemnity_paid",
            "indemnity_reserve", "expense_paid", "expense_reserve",
            "recovery", "total_incurred", "math_valid", "math_diff").collect()
        assert rows
        for r in rows:
            calc = (r.medical_paid + r.medical_reserve + r.indemnity_paid
                    + r.indemnity_reserve + r.expense_paid + r.expense_reserve)
            valid = (abs(calc - r.total_incurred) < 1.0
                     or abs(calc - r.recovery - r.total_incurred) < 1.0)
            if not r.math_valid:
                assert r.math_diff >= 1.0 or not valid

    def test_financial_validation(self, pipeline_result):
        # C10 (reference insurance_extractor.py:1265-1303): recompute the
        # tolerance + negativity checks in Python and compare
        rows = pipeline_result.claims.select(
            "medical_paid", "medical_reserve", "indemnity_paid",
            "indemnity_reserve", "expense_paid", "expense_reserve",
            "total_incurred", "validation_errors",
            "financially_valid").collect()
        assert rows
        fields = ["medical_paid", "medical_reserve", "indemnity_paid",
                  "indemnity_reserve", "expense_paid", "expense_reserve",
                  "total_incurred"]
        for r in rows:
            errors = []
            calc = sum((r[f] or 0.0) for f in fields[:-1])
            total = r["total_incurred"] or 0.0
            if abs(calc - total) > 0.02:
                errors.append(f"Total mismatch: calculated ${calc:.2f} "
                              f"!= reported ${total:.2f}")
            for f in fields:
                v = r[f] or 0.0
                if v < 0:
                    errors.append(f"{f} is negative: ${v:.2f}")
            assert list(r["validation_errors"]) == errors
            assert r["financially_valid"] == (not errors)

    def test_invoice_docs_have_no_claims(self, pipeline_result):
        inv = pipeline_result.docs.where(
            F.col("url").contains("/invoice_pdf/")
            & (F.col("doc_kind") != "other"))  # junk-mutated rows excluded
        assert inv.count() > 0
        assert inv.where(F.col("total_claims") != 0).count() == 0
        assert inv.where(F.length("text") < 50).count() == 0

    def test_recovery_docs_fallback(self, pipeline_result):
        rec = pipeline_result.docs.where(
            F.col("url").contains("/recovery_pdf/"))
        assert rec.count() > 0
        assert rec.where(~F.col("fallback_used")).count() == 0
        assert rec.where(F.size("recovered_claims") == 0).count() == 0


class TestDocsSemantics:
    def test_every_input_row_present(self, pipeline_result, web_pages):
        assert pipeline_result.docs.count() == web_pages.count()

    def test_doc_kind_routing(self, pipeline_result):
        rows = pipeline_result.docs.select("url", "doc_kind").collect()
        for r in rows:
            cls = r["url"].rsplit("/", 2)[-2]
            if cls in ("scanned_pdf", "garbage_pdf"):
                assert r["doc_kind"] in ("pdf_scanned", "other"), r
            elif cls == "html_page":
                assert r["doc_kind"] in ("html", "other"), r
            elif cls == "text_only":
                assert r["doc_kind"] == "text", r

    def test_scanned_confidence(self, pipeline_result):
        sc = pipeline_result.docs.where(F.col("doc_kind") == "pdf_scanned")
        assert sc.count() > 0
        assert sc.where(F.col("avg_confidence") != 0.85).count() == 0
        assert sc.where(F.col("scanned_pages") != F.col("total_pages")).count() == 0

    def test_extraction_quality_columns(self, pipeline_result):
        # A11 (reference pdf_plumber.py:340-392): recompute per doc
        import re
        rows = pipeline_result.docs.select(
            "text", "total_lines", "non_empty_lines", "avg_line_length",
            "page_markers", "claim_numbers_found", "completeness_score",
            "is_complete").collect()
        assert rows
        for r in rows:
            text = r["text"] or ""
            lines = text.split("\n")
            non_empty = [l for l in lines if l.strip()]
            avg = (round(sum(len(l) for l in non_empty) / len(non_empty), 2)
                   if non_empty else 0.0)
            markers = text.count("PAGE ")
            found = len(set(re.findall(r"W\d{2}IN\d{5}|\d{6}B", text)))
            score = 1.0
            if found == 0:
                score -= 0.5
            if avg < 10:
                score -= 0.3
            if markers == 0:
                score -= 0.2
            score = max(0.0, round(score, 2))
            assert r["total_lines"] == len(lines)
            assert r["non_empty_lines"] == len(non_empty)
            assert abs(r["avg_line_length"] - avg) < 0.011, (
                r["avg_line_length"], avg)
            assert r["page_markers"] == markers
            assert r["claim_numbers_found"] == found
            assert abs(r["completeness_score"] - score) < 1e-9
            assert r["is_complete"] == (score >= 0.7)

    def test_multi_policy_join(self, pipeline_result):
        mp = pipeline_result.docs.where(
            F.col("url").contains("/multi_policy_pdf/")
            & F.col("policy_number").contains(","))
        for r in mp.select("policy_number").collect():
            parts = r[0].split(", ")
            assert parts == sorted(parts)


class TestLineageAndResume:
    def test_lineage_and_resume(self, spark, web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        n_input = web_pages.count()

        res1 = run_pipeline(spark, web_pages, output_dir=out, run_id="r1")
        assert res1.docs_written == n_input

        # lineage: per-stage doc_count sums to the input row count
        m = res1.metrics.groupBy("stage").agg(
            F.sum("doc_count").alias("docs")).collect()
        per_stage = {r["stage"]: r["docs"] for r in m}
        assert per_stage["tokenize"] == n_input
        assert per_stage["fields"] == n_input
        assert res1.metrics.where(F.col("partition_id") < 0).count() == 0

        assert res1.docs_delta == n_input

        # resume: second run adds ZERO rows (anti-join on committed urls)
        res2 = run_pipeline(spark, web_pages, output_dir=out, run_id="r2")
        assert res2.docs_written == n_input
        assert res2.docs_delta == 0
        docs = spark.read.parquet(os.path.join(out, "docs"))
        assert docs.count() == n_input
        assert docs.select("url").distinct().count() == n_input

        # partial-progress resume: delete committed output for 5 urls is not
        # possible with parquet append; instead run a fresh dir with half the
        # input, then resume with the full input → only the delta is added
        out2 = str(tmp_path / "out2")
        half = web_pages.limit(30)
        run_pipeline(spark, half, output_dir=out2, run_id="r3")
        res4 = run_pipeline(spark, web_pages, output_dir=out2, run_id="r4")
        assert res4.docs_written == n_input
        docs2 = spark.read.parquet(os.path.join(out2, "docs"))
        assert docs2.select("url").distinct().count() == n_input
        assert docs2.count() == n_input
        # the delta run must append the delta docs' CLAIMS too (regression:
        # self-read-write hazard silently dropped them before staging)
        claims2 = spark.read.parquet(os.path.join(out2, "claims"))
        nested_total = docs2.agg(F.sum("total_claims")).collect()[0][0]
        assert claims2.count() == nested_total
        assert claims2.join(docs2.select("url"), "url", "left_anti").count() == 0
        assert res4.docs_delta == n_input - 30

    def test_crash_between_appends_is_idempotent(self, spark, web_pages,
                                                 tmp_path):
        """Claims are committed BEFORE docs (docs = resume marker). If a
        run dies between the two appends, the re-run must re-process those
        urls without duplicating their claims (anti-join on committed
        claim urls)."""
        import shutil
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        run_pipeline(spark, web_pages, output_dir=out, run_id="c1")
        # simulate the crash: docs append lost, claims + metrics survive
        shutil.rmtree(os.path.join(out, "docs"))
        res = run_pipeline(spark, web_pages, output_dir=out, run_id="c2")
        assert res.docs_delta == web_pages.count()  # everything re-ran
        docs = spark.read.parquet(os.path.join(out, "docs"))
        claims = spark.read.parquet(os.path.join(out, "claims"))
        assert docs.select("url").distinct().count() == docs.count()
        # no claim row duplicated by the re-run
        dup = (claims.groupBy("url", "claim_number").count()
               .where(F.col("count") > 1).count())
        assert dup == 0
        nested_total = docs.agg(F.sum("total_claims")).collect()[0][0]
        assert claims.count() == nested_total


def _fused_batch(rows, ts_type=None):
    """A sniffed-input RecordBatch for ``make_fused_fn``: ``rows`` are
    (url, html, text, doc_kind0, oversize) tuples."""
    import datetime

    import pyarrow as pa
    ts = datetime.datetime(2024, 1, 1, 12, 30)
    url, html, text, kind0, oversize = (list(c) for c in zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(url, pa.string()),
         pa.array([ts] * len(rows), ts_type or pa.timestamp("us", "UTC")),
         pa.array(html, pa.binary()), pa.array(text, pa.string()),
         pa.array([None if i % 2 else "en" for i in range(len(rows))],
                  pa.string()),
         pa.array(kind0, pa.string()), pa.array(oversize, pa.bool_())],
        names=["url", "warc_ts", "html", "text", "lang", "doc_kind0",
               "oversize"])


class TestFusedLineage:
    def test_fields_wall_ms_excludes_input_waits(self):
        """The fields row's wall_ms times the field extraction calls only:
        a slow upstream (the iterator waiting on its next Arrow batch)
        is charged to neither stage."""
        import json
        import time

        from insurance_pdf_extractor_spark.operators.fused import (
            make_fused_fn)

        def slow_batches():
            for b in range(3):
                time.sleep(0.4)
                yield _fused_batch(
                    [(f"https://w.test/{b}/{i}", None,
                      "Policy Number: WC-1234 short note", "text", False)
                     for i in range(4)])

        out = list(make_fused_fn("w", emit_metrics=True)(slow_batches()))
        rows = [json.loads(m) for m in out[-1].column("_metric").to_pylist()]
        by_stage = {r["stage"]: r for r in rows}
        assert by_stage["fields"]["doc_count"] == 12
        assert by_stage["fields"]["wall_ms"] < 400
        assert by_stage["tokenize"]["wall_ms"] < 400

    @pytest.mark.parametrize("tz", [None, "UTC"],
                             ids=["timestamp_ntz", "timestamp"])
    def test_page_scalars_and_passthrough(self, tz):
        """One doc of every kind: the UDF's three page scalars equal the
        aggregation of the tokenize result's page list, and url /
        warc_ts / lang leave the UDF as the input arrays."""
        import functools
        import random

        import pyarrow as pa

        from insurance_pdf_extractor_spark import fixtures as FX
        from insurance_pdf_extractor_spark.operators.fused import (
            make_fused_fn)
        from insurance_pdf_extractor_spark.operators.tokenize import (
            _extract_one)
        rng = random.Random(5)
        pdf = FX.make_loss_run_pdf(rng)
        rows = [("https://k.test/digital", pdf, None, "pdf", False),
                ("https://k.test/scanned", FX.make_scanned_pdf(rng), None,
                 "pdf", False),
                ("https://k.test/rotated", FX.make_rotated_pdf(rng), None,
                 "pdf", False),
                ("https://k.test/html", FX.make_html_page(rng), None,
                 "html", False),
                ("https://k.test/text", None, FX.make_text_only(rng),
                 "text", False),
                ("https://k.test/empty", None, None, "empty", False),
                ("https://k.test/other", b"GIF89a\x01\x00", None, "other",
                 False),
                ("https://k.test/oversize", pdf, None, "pdf", True),
                # routed as pdf, rejected by the parser (no header)
                ("https://k.test/broken", pdf[9:], None, "pdf", False)]
        batch = _fused_batch(rows, pa.timestamp("us", tz))
        out, = make_fused_fn("k")(iter([batch]))
        for c in ("url", "warc_ts", "lang"):
            assert out.column(c).equals(batch.column(c)), c
        got = out.to_pydict()
        kinds = dict(zip(got["url"], got["doc_kind"]))
        assert kinds["https://k.test/scanned"] == "pdf_scanned"
        assert kinds["https://k.test/oversize"] == "oversize"
        assert kinds["https://k.test/broken"] == "pdf_error"
        for i, (url, html, text, kind0, oversize) in enumerate(rows):
            pages = [] if oversize else _extract_one(kind0, html, text)[
                "pages"]
            want = (len(pages),
                    sum(int(p["is_scanned"]) for p in pages),
                    functools.reduce(lambda acc, p: acc + p["confidence"],
                                     pages, 0.0) / len(pages)
                    if pages else 0.0)
            assert (got["total_pages"][i], got["scanned_pages"][i],
                    got["avg_confidence"][i]) == want, url
        assert got["scanned_pages"][1] == got["total_pages"][1] > 0
        assert got["total_pages"][0] > 1


class TestPlanShape:
    def test_single_wide_dependency_before_udfs(self, spark, web_pages):
        """The happy-path plan has exactly one explicit shuffle before the
        UDF stage (SURVEY.md §3.1) and the html column is pruned by the
        fused tokenize+fields stage."""
        from insurance_pdf_extractor_spark.operators.fused import (
            tokenize_and_extract)
        from insurance_pdf_extractor_spark.operators.sniff import sniff
        from pyspark.sql import functions as F
        df = (web_pages.withColumn("_h", F.xxhash64("url"))
              .repartitionByRange(8, "_h").drop("_h"))
        out = tokenize_and_extract(sniff(df), "t")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1
        assert "html" not in out.columns


class TestDocsWrittenLedger:
    def test_ledger_replaces_table_count(self, spark, web_pages, tmp_path):
        """committed_before comes from the run ledger (max docs_total_after),
        not a listing/count of the committed docs table; non-resume runs
        against an existing dir report the true cumulative (ADVICE r2)."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        n = web_pages.count()
        half = web_pages.limit(30)

        r1 = run_pipeline(spark, half, output_dir=out, run_id="l1")
        assert r1.docs_written == 30
        ledger = spark.read.parquet(os.path.join(out, "ledger"))
        assert ledger.count() == 1
        assert ledger.first()["docs_total_after"] == 30

        r2 = run_pipeline(spark, web_pages, output_dir=out, run_id="l2")
        assert r2.docs_written == n and r2.docs_delta == n - 30
        ledger = spark.read.parquet(os.path.join(out, "ledger"))
        assert ledger.agg(F.max("docs_total_after")).first()[0] == n

        # resume re-run: delta 0, cumulative stays n
        r3 = run_pipeline(spark, web_pages, output_dir=out, run_id="l3")
        assert r3.docs_written == n and r3.docs_delta == 0

        # non-resume run on the existing dir: cumulative counts the
        # pre-existing rows plus this run's (duplicate) delta
        r4 = run_pipeline(spark, half, output_dir=out, run_id="l4",
                          resume=False)
        assert r4.docs_written == n + 30 and r4.docs_delta == 30

    def test_wiped_docs_table_invalidates_ledger(self, spark, web_pages,
                                                 tmp_path):
        import shutil
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        run_pipeline(spark, web_pages.limit(20), output_dir=out,
                     run_id="w1")
        shutil.rmtree(os.path.join(out, "docs"))
        res = run_pipeline(spark, web_pages.limit(20), output_dir=out,
                           run_id="w2")
        # docs table was reset out-of-band: committed_before must be 0
        assert res.docs_written == 20 and res.docs_delta == 20

    def test_corrupt_ledger_raises(self, spark, web_pages, tmp_path):
        """A ledger that EXISTS but cannot be read must raise, not
        silently fall back to the full-table count it exists to avoid
        (ADVICE r3)."""
        import pytest
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        run_pipeline(spark, web_pages.limit(10), output_dir=out,
                     run_id="c1")
        ledger_dir = os.path.join(out, "ledger")
        for name in os.listdir(ledger_dir):
            if name.endswith(".parquet"):
                with open(os.path.join(ledger_dir, name), "wb") as f:
                    f.write(b"not a parquet file")
        with pytest.raises(Exception):
            run_pipeline(spark, web_pages.limit(10), output_dir=out,
                         run_id="c2")


class TestTableProbe:
    """_read_table_if_exists: Spark-read probing (object-storage-safe),
    absent vs empty vs corrupt semantics (VERDICT r3 item 8)."""

    def test_absent_path_is_none(self, spark, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import (
            _read_table_if_exists)
        assert _read_table_if_exists(
            spark, str(tmp_path / "nope")) is None

    def test_empty_dir_is_none(self, spark, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import (
            _read_table_if_exists)
        empty = tmp_path / "empty"
        empty.mkdir()
        assert _read_table_if_exists(spark, str(empty)) is None

    def test_corrupt_table_raises(self, spark, tmp_path):
        import pytest
        from insurance_pdf_extractor_spark.pipeline import (
            _read_table_if_exists)
        bad = tmp_path / "bad"
        bad.mkdir()
        (bad / "part-0000.parquet").write_bytes(b"garbage bytes")
        with pytest.raises(Exception):
            df = _read_table_if_exists(spark, str(bad))
            if df is not None:      # schema read may be lazy — force it
                df.collect()


class TestPartitionedOutput:
    def test_date_partitioned_docs_resume(self, spark, web_pages,
                                          tmp_path):
        """Date-partitioned docs layout (the 100 TB spec): partition
        dirs exist, pruning applies, and the resume anti-join is
        layout-independent."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        n = web_pages.count()
        run_pipeline(spark, web_pages, output_dir=out, run_id="p1",
                     partition_output_by_date=True)
        docs_dir = os.path.join(out, "docs")
        parts = [d for d in os.listdir(docs_dir)
                 if d.startswith("crawl_date=")]
        assert parts, "no partition directories written"
        docs = spark.read.parquet(docs_dir)
        assert docs.count() == n
        # partition pruning: a single-day filter scans one partition
        one_day = parts[0].split("=", 1)[1]
        pruned = docs.where(F.col("crawl_date") == one_day)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(crawl_date" in plan \
            or "crawl_date" in plan
        assert pruned.count() > 0
        # resume over the partitioned layout: zero new rows
        res = run_pipeline(spark, web_pages, output_dir=out, run_id="p2",
                           partition_output_by_date=True)
        assert res.docs_delta == 0 and res.docs_written == n
        assert spark.read.parquet(docs_dir).count() == n


class TestPipelineDedupStage:
    """Opt-in dedup=minhash-lsh between finalize and the output appends
    (VERDICT r3 item 5). Off by default — the flagship oracle rows are
    untouched; on, keeper counts must match the standalone LSH twin."""

    def _doubled(self, spark, web_pages):
        """Corpus where every doc has a same-content twin url."""
        twin = web_pages.withColumn(
            "url", F.concat(F.col("url"), F.lit("?dup")))
        return web_pages.unionByName(twin)

    def test_keeper_filter_matches_lsh_twin(self, spark, web_pages,
                                            tmp_path):
        from insurance_pdf_extractor_spark.dedup import (
            dedup_documents, lsh_pairs_from_signatures,
            minhash_signatures_from_docs)
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        doubled = self._doubled(spark, web_pages.limit(24))
        out = str(tmp_path / "out")
        res = run_pipeline(spark, doubled, output_dir=out, run_id="dd1",
                           dedup="minhash-lsh")
        got_urls = {r["url"] for r in res.docs.select("url").collect()}

        # standalone twin over the UNdeduped extraction of the same corpus
        base = run_pipeline(spark, doubled, output_dir=None, resume=False)
        keyed = base.docs.select(F.col("url").alias("doc_id"), "text")
        pairs = lsh_pairs_from_signatures(
            minhash_signatures_from_docs(keyed))
        verdict = dedup_documents(keyed.select("doc_id"), pairs)
        want_urls = {r["doc_id"] for r in
                     verdict.where("is_keeper").collect()}
        base.unpersist()
        assert got_urls == want_urls
        # twins genuinely deduped: fewer kept than offered
        assert len(got_urls) < doubled.count()
        assert res.docs_written == len(got_urls)
        # ledger agrees with the physical table
        ledger = spark.read.parquet(os.path.join(out, "ledger"))
        assert (ledger.agg(F.max("docs_total_after")).first()[0]
                == res.docs.count() == len(got_urls))

    def test_claims_follow_keepers_and_lineage_rows(self, spark,
                                                    web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        doubled = self._doubled(spark, web_pages.limit(24))
        out = str(tmp_path / "out")
        res = run_pipeline(spark, doubled, output_dir=out, run_id="dd2",
                           dedup="minhash-lsh")
        doc_urls = {r["url"] for r in res.docs.select("url").collect()}
        claim_urls = {r["url"] for r in
                      res.claims.select("url").distinct().collect()}
        assert claim_urls <= doc_urls  # no claims for dropped dups
        m = {r["stage"]: r for r in res.metrics.collect()}
        assert "dedup" in m and "dedup_bands_dropped" in m
        assert m["dedup"]["doc_count"] == len(doc_urls)
        assert (m["dedup"]["doc_count"] + m["dedup"]["fail_count"]
                == doubled.count())

    def test_dedup_off_by_default(self, spark, web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        doubled = self._doubled(spark, web_pages.limit(12))
        res = run_pipeline(spark, doubled,
                           output_dir=str(tmp_path / "out"), run_id="dd3")
        assert res.docs.count() == doubled.count()  # nothing dropped

    def test_unknown_strategy_raises(self, spark, web_pages, tmp_path):
        import pytest
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        with pytest.raises(ValueError):
            run_pipeline(spark, web_pages.limit(2),
                         output_dir=str(tmp_path / "out"),
                         dedup="bogus")

    def test_no_output_mode_filters_too(self, spark, web_pages):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        doubled = self._doubled(spark, web_pages.limit(12))
        res = run_pipeline(spark, doubled, output_dir=None, resume=False,
                           dedup="minhash-lsh")
        assert res.docs.count() < doubled.count()
        res.unpersist()


class TestCrossRunDedup:
    """dedup=minhash-lsh with an output dir judges each delta against
    the committed signatures/ table: dropped duplicates STAY dropped on
    resume, and near-dups of committed docs never enter the table."""

    def test_resume_reoffer_is_idempotent(self, spark, web_pages,
                                          tmp_path):
        from pyspark.sql import functions as F
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        base = web_pages.limit(20)
        twin = base.withColumn("url", F.concat("url", F.lit("?dup")))
        doubled = base.unionByName(twin)
        out = str(tmp_path / "out")
        r1 = run_pipeline(spark, doubled, output_dir=out, run_id="x1",
                          dedup="minhash-lsh")
        kept1 = {r["url"] for r in r1.docs.select("url").collect()}
        assert len(kept1) < 40  # twins deduped
        # resume with the SAME input: committed urls anti-join away,
        # re-offered dropped twins collide with committed signatures
        r2 = run_pipeline(spark, doubled, output_dir=out, run_id="x2",
                          dedup="minhash-lsh")
        kept2 = {r["url"] for r in r2.docs.select("url").collect()}
        assert kept2 == kept1          # nothing re-enters
        assert r2.docs_delta == 0 or r2.docs_delta < 5
        assert r2.docs_written == len(kept1) + r2.docs_delta

    def test_new_near_dup_of_committed_is_dropped(self, spark,
                                                  web_pages, tmp_path):
        from pyspark.sql import functions as F
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        base = web_pages.limit(12)
        out = str(tmp_path / "out")
        run_pipeline(spark, base, output_dir=out, run_id="y1",
                     dedup="minhash-lsh")
        # second run: twins of already-committed docs + genuinely novel
        # docs (rows 40+ of the session corpus, disjoint classes)
        twins = base.withColumn("url", F.concat("url", F.lit("?v2")))
        fresh = web_pages.subtract(web_pages.limit(40))
        n_fresh = fresh.count()
        r2 = run_pipeline(spark, twins.unionByName(fresh),
                          output_dir=out, run_id="y2",
                          dedup="minhash-lsh")
        kept2 = {r["url"] for r in r2.docs.select("url").collect()}
        # no twin of a committed doc survives
        assert not any(u.endswith("?v2") for u in kept2)
        # the signatures table saw both runs' deltas
        sig = spark.read.parquet(os.path.join(out, "signatures"))
        assert sig.count() >= 12  # every sig-bearing doc recorded
        if n_fresh:
            # novel docs' keepers entered (fresh may near-dup itself)
            assert any("?v2" not in u and u not in
                       {r["url"] for r in base.collect()}
                       for u in kept2)


class TestQualityGate:
    """quality_min: training-data quality filter on completeness_score,
    off by default, lineage-tracked, claims follow docs."""

    def test_gate_filters_and_logs(self, spark, web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = str(tmp_path / "out")
        base = run_pipeline(spark, web_pages, output_dir=None,
                            resume=False)
        n_all = base.docs.count()
        n_good = base.docs.where("completeness_score >= 0.7").count()
        base.unpersist()
        assert 0 < n_good < n_all  # fixture mix spans the threshold
        res = run_pipeline(spark, web_pages, output_dir=out,
                           run_id="q1", quality_min=0.7)
        assert res.docs.count() == n_good == res.docs_written
        bad = res.docs.where("completeness_score < 0.7").count()
        assert bad == 0
        doc_urls = {r["url"] for r in res.docs.select("url").collect()}
        claim_urls = {r["url"] for r in
                      res.claims.select("url").distinct().collect()}
        assert claim_urls <= doc_urls
        m = {r["stage"]: r for r in res.metrics.collect()}
        assert m["quality"]["doc_count"] == n_good
        assert m["quality"]["fail_count"] == n_all - n_good
        # ledger agrees with the physical filtered table
        ledger = spark.read.parquet(os.path.join(out, "ledger"))
        assert ledger.agg(F.max("docs_total_after")).first()[0] == n_good

    def test_no_output_mode(self, spark, web_pages):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        res = run_pipeline(spark, web_pages.limit(20), output_dir=None,
                           resume=False, quality_min=0.7)
        assert res.docs.where("completeness_score < 0.7").count() == 0
        res.unpersist()


class TestDedupStream:
    def test_streaming_exact_dedup(self, spark, web_pages, tmp_path):
        """Two landing files with cross-batch duplicate content: the
        watermarked streaming dedup keeps first occurrences only."""
        import glob
        import shutil
        import tempfile

        from insurance_pdf_extractor_spark.streaming import dedup_stream

        def _flat(df, path):
            # streaming file source lists FLAT files, not subdirectories
            tmp = tempfile.mkdtemp()
            df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
            shutil.move(glob.glob(f"{tmp}/d/part-*.parquet")[0], path)
            shutil.rmtree(tmp, ignore_errors=True)

        landing = tmp_path / "landing"
        landing.mkdir()
        out = str(tmp_path / "out")
        batch1 = web_pages.limit(10)
        # batch 2 = 5 duplicates (same content, new urls) + 5 new docs
        dup = (batch1.limit(5)
               .withColumn("url", F.concat("url", F.lit("?copy"))))
        new = web_pages.subtract(web_pages.limit(10)).limit(5)
        _flat(batch1, str(landing / "f1.parquet"))
        _flat(dup.unionByName(new), str(landing / "f2.parquet"))
        dedup_stream(spark, str(landing), out, watermark="365 days")
        kept = spark.read.parquet(os.path.join(out, "keepers"))
        assert kept.count() == 15  # 10 + 5 new, 5 duplicates dropped
        assert not any(r["url"].endswith("?copy")
                       for r in kept.select("url").collect())
        # re-run: checkpoint makes it a no-op
        dedup_stream(spark, str(landing), out, watermark="365 days")
        assert spark.read.parquet(os.path.join(out, "keepers")).count() == 15


class TestQualityDedupInteraction:
    """ADVICE r4 (medium): with dedup + quality_min both on, a
    quality-dropped doc's content is never committed, so its signature
    must not enter the cross-run history — otherwise a later,
    quality-passing near-dup is dropped by the probe and the content is
    lost forever ('can keep a duplicate, never lose a document')."""

    def test_quality_dropped_signatures_not_committed(
            self, spark, web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        corpus = web_pages.limit(24)
        base = run_pipeline(spark, corpus, output_dir=None, resume=False)
        bad_urls = {r["url"] for r in
                    base.docs.where("completeness_score < 0.7")
                    .select("url").collect()}
        base.unpersist()
        assert bad_urls  # fixture mix spans the threshold
        out = str(tmp_path / "out")
        run_pipeline(spark, corpus, output_dir=out, run_id="qd1",
                     dedup="minhash-lsh", quality_min=0.7)
        sig = spark.read.parquet(os.path.join(out, "signatures"))
        sig_urls = {r["doc_id"] for r in
                    sig.select("doc_id").distinct().collect()}
        assert sig_urls.isdisjoint(bad_urls)
        # pre-banded format: (doc_id, band_no, bh), 16 rows per doc
        assert set(sig.columns) == {"doc_id", "band_no", "bh"}
        assert sig.count() == len(sig_urls) * 16

    def test_near_dup_of_quality_dropped_is_kept_later(
            self, spark, web_pages, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        corpus = web_pages.limit(24)
        base = run_pipeline(spark, corpus, output_dir=None, resume=False)
        bad = [r["url"] for r in
               base.docs.where("completeness_score < 0.7")
               .select("url").collect()]
        base.unpersist()
        out = str(tmp_path / "out")
        run_pipeline(spark, corpus, output_dir=out, run_id="qd2",
                     dedup="minhash-lsh", quality_min=0.7)
        # run 2 re-offers a quality-dropped doc's CONTENT under a new
        # url, quality gate off: the content was never preserved, so
        # the cross-run probe must not drop it
        twin = (corpus.join(
            spark.createDataFrame([(u,) for u in bad[:2]], ["url"]),
            "url", "left_semi")
            .withColumn("url", F.concat("url", F.lit("?v2"))))
        r2 = run_pipeline(spark, twin, output_dir=out, run_id="qd3",
                          dedup="minhash-lsh")
        kept2 = {r["url"] for r in r2.docs.select("url").collect()
                 if r["url"].endswith("?v2")}
        assert kept2 == {u + "?v2" for u in bad[:2]}

    def test_validation_before_any_write(self, spark, web_pages,
                                         tmp_path):
        """ADVICE r4 (low): a typo'd dedup / out-of-range quality_min
        raises before the extraction stage writes anything."""
        import pytest
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = tmp_path / "out"
        with pytest.raises(ValueError):
            run_pipeline(spark, web_pages.limit(2), output_dir=str(out),
                         dedup="bogus")
        with pytest.raises(ValueError):
            run_pipeline(spark, web_pages.limit(2), output_dir=str(out),
                         quality_min=1.5)
        assert not out.exists()  # nothing staged, nothing committed

    def test_band_staging_cleaned_after_run(self, spark, web_pages,
                                            tmp_path):
        """ADVICE r4 (low): per-run _staging/<run>_sig dirs are deleted
        once appended to signatures/ (they are re-derivable)."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = tmp_path / "out"
        run_pipeline(spark, web_pages.limit(8), output_dir=str(out),
                     run_id="clean1", dedup="minhash-lsh")
        staging = out / "_staging"
        assert not (staging / "clean1_sig").exists()
        assert not (staging / "clean1").exists()


class TestSignatureStoreMaintenance:
    """VERDICT r5 item 4: bounded small-file accretion in signatures/
    plus the backfill path for mixed-history output dirs."""

    @staticmethod
    def _sig_files(out):
        root = os.path.join(str(out), "signatures")
        return [os.path.join(b, f) for b, _, fs in os.walk(root)
                for f in fs if f.endswith(".parquet")]

    def test_append_is_one_file_per_band_per_run(self, spark, web_pages,
                                                 tmp_path):
        """Each incremental dedup run appends exactly ONE data file per
        band partition (the repartition-on-band_no compaction) — not one
        per staging task per band."""
        from insurance_pdf_extractor_spark.dedup import LSH_BANDS
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        out = tmp_path / "out"
        run_pipeline(spark, web_pages.limit(10), output_dir=str(out),
                     run_id="s1", dedup="minhash-lsh")
        n1 = len(self._sig_files(out))
        assert n1 <= LSH_BANDS
        # second delta: disjoint urls so every doc is new
        from pyspark.sql import functions as F
        delta = (web_pages.limit(10)
                 .withColumn("url", F.concat("url", F.lit("?r2x"))))
        run_pipeline(spark, delta, output_dir=str(out), run_id="s2",
                     dedup="minhash-lsh")
        n2 = len(self._sig_files(out))
        assert n2 - n1 <= LSH_BANDS          # bounded growth per run
        assert n2 <= 2 * LSH_BANDS

    def test_compact_signatures_rewrites_to_one_file_per_band(
            self, spark, web_pages, tmp_path):
        from tools.dedup_job import compact_signatures
        from insurance_pdf_extractor_spark.dedup import LSH_BANDS
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        from pyspark.sql import functions as F
        out = tmp_path / "out"
        for i in range(3):
            delta = (web_pages.limit(6)
                     .withColumn("url", F.concat("url", F.lit(f"?c{i}"))))
            run_pipeline(spark, delta, output_dir=str(out),
                         run_id=f"c{i}", dedup="minhash-lsh")
        sig_path = os.path.join(str(out), "signatures")
        before = spark.read.parquet(sig_path).count()
        rep = compact_signatures(spark, str(out))
        assert rep["rows"] == before
        files = self._sig_files(out)
        assert 0 < len(files) <= LSH_BANDS
        assert spark.read.parquet(sig_path).count() == before
        # the table still serves the cross-run probe
        run_pipeline(spark, web_pages.limit(6).withColumn(
            "url", F.concat("url", F.lit("?c0"))), output_dir=str(out),
            run_id="post", dedup="minhash-lsh")

    def test_pipeline_append_restores_half_swapped_compaction(
            self, spark, web_pages, tmp_path):
        """ADVICE r7 (medium): a compaction crash between its two
        renames parks the whole history at signatures_precompact/ with
        signatures/ absent. A regular run_pipeline append arriving
        BEFORE the next dedup_job invocation must restore the parked
        copy — otherwise it writes a fresh delta-only signatures/ and
        the job-level recovery (keyed on signatures/ being absent)
        never fires, stranding the cross-run history forever."""
        import shutil
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        from pyspark.sql import functions as F
        out = tmp_path / "out"
        base = web_pages.limit(8)
        run_pipeline(spark, base, output_dir=str(out), run_id="h1",
                     dedup="minhash-lsh")
        sig = os.path.join(str(out), "signatures")
        parked = os.path.join(str(out), "signatures_precompact")
        hist = spark.read.parquet(sig).count()
        shutil.move(sig, parked)               # simulate the mid-swap crash
        # a plain append (disjoint urls) must first restore the history
        delta = base.withColumn("url", F.concat("url", F.lit("?hs")))
        run_pipeline(spark, delta, output_dir=str(out), run_id="h2",
                     dedup="minhash-lsh")
        assert not os.path.exists(parked)      # restored, not stranded
        assert spark.read.parquet(sig).count() > hist  # history + delta
        # and the restored history still serves the cross-run probe:
        # near-dups of run-1 docs drop on a third run
        twins = base.withColumn("url", F.concat("url", F.lit("?tw")))
        r = run_pipeline(spark, twins, output_dir=str(out), run_id="h3",
                         dedup="minhash-lsh")
        kept = {row["url"] for row in r.docs.select("url").collect()
                if row["url"].endswith("?tw")}
        assert kept == set()

    @staticmethod
    def _small_store(spark, path):
        """A 12-row band-partitioned signature table (no pipeline run)."""
        (spark.createDataFrame(
            [(f"u{i}", b, i * 7 + b) for i in range(4) for b in range(3)],
            "doc_id string, band_no int, bh long")
         .write.partitionBy("band_no").parquet(path))

    @staticmethod
    def _fail_rename(monkeypatch, fail_at):
        """Route the pipeline's and the job's Hadoop FileSystem through a
        stub whose ``fail_at``-th rename (0-based, per FileSystem
        handle) returns False without renaming — how Hadoop's
        ``rename`` reports failure."""
        import tools.dedup_job as J
        from insurance_pdf_extractor_spark import pipeline as P
        real = P._hadoop_fs

        class FailingRename:
            def __init__(self, fs):
                self._fs, self._renames = fs, 0

            def __getattr__(self, name):
                return getattr(self._fs, name)

            def rename(self, src, dst):
                self._renames += 1
                if self._renames - 1 == fail_at:
                    return False
                return self._fs.rename(src, dst)

        def stub(spark, path):
            fs, Path = real(spark, path)
            return FailingRename(fs), Path
        monkeypatch.setattr(P, "_hadoop_fs", stub)
        monkeypatch.setattr(J, "_hadoop_fs", stub)

    def test_failed_restore_raises_and_keeps_parked_copy(
            self, spark, tmp_path, monkeypatch):
        from tools.dedup_job import compact_signatures
        from insurance_pdf_extractor_spark.pipeline import (
            _recover_parked_signatures)
        out = str(tmp_path / "out")
        sig = os.path.join(out, "signatures")
        parked = os.path.join(out, "signatures_precompact")
        self._small_store(spark, parked)       # the mid-swap crash state
        self._fail_rename(monkeypatch, 0)
        with pytest.raises(RuntimeError, match="could not restore"):
            _recover_parked_signatures(spark, out)
        with pytest.raises(RuntimeError, match="could not restore"):
            compact_signatures(spark, out)
        assert os.path.isdir(parked) and not os.path.exists(sig)
        monkeypatch.undo()
        assert _recover_parked_signatures(spark, out) is True
        assert not os.path.exists(parked)
        assert spark.read.parquet(sig).count() == 12
        assert _recover_parked_signatures(spark, out) is False

    @pytest.mark.parametrize("fail_at", [0, 1])
    def test_compaction_failed_rename_raises_before_delete(
            self, spark, tmp_path, monkeypatch, fail_at):
        """A failed swap rename raises before the final delete: the
        first (signatures → precompact) leaves the store in place and
        nests nothing inside it; the second (compact → signatures)
        leaves the history parked, and the next compaction restores it
        and reports so."""
        from tools.dedup_job import compact_signatures
        out = str(tmp_path / "out")
        sig = os.path.join(out, "signatures")
        parked = os.path.join(out, "signatures_precompact")
        self._small_store(spark, sig)
        self._fail_rename(monkeypatch, fail_at)
        with pytest.raises(RuntimeError, match="rename"):
            compact_signatures(spark, out)
        monkeypatch.undo()
        if fail_at == 0:
            assert not os.path.exists(
                os.path.join(sig, "signatures_compact"))
            assert spark.read.parquet(sig).count() == 12
        else:
            assert not os.path.exists(sig)
            assert spark.read.parquet(parked).count() == 12
        rep = compact_signatures(spark, out)
        assert rep["recovered_half_swap"] is (fail_at == 1)
        assert rep["rows"] == 12
        assert spark.read.parquet(sig).count() == 12
        assert not os.path.exists(parked)

    def test_backfill_makes_predup_history_visible(self, spark,
                                                   web_pages, tmp_path):
        """A doc committed by a NON-dedup run must, after
        --backfill-signatures, suppress a later near-duplicate offered
        to a dedup run (the pipeline.py docstring's blind spot)."""
        from tools.dedup_job import backfill_signatures
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        from pyspark.sql import functions as F
        out = tmp_path / "out"
        base = web_pages.limit(10)
        run_pipeline(spark, base, output_dir=str(out), run_id="pre",
                     dedup=None)                   # no signatures
        assert not os.path.exists(os.path.join(str(out), "signatures"))
        rep = backfill_signatures(
            spark, os.path.join(str(out), "docs"), str(out))
        assert rep["backfilled_docs"] == 10
        # idempotent: second backfill bands nothing
        rep2 = backfill_signatures(
            spark, os.path.join(str(out), "docs"), str(out))
        assert rep2["backfilled_docs"] == 0
        # near-dups of the pre-dedup-era docs now drop
        twins = base.withColumn("url", F.concat("url", F.lit("?bf")))
        r = run_pipeline(spark, twins, output_dir=str(out), run_id="bf",
                         dedup="minhash-lsh")
        kept = {row["url"] for row in r.docs.select("url").collect()
                if row["url"].endswith("?bf")}
        assert kept == set()


class TestTextQualityChain:
    """r7 CCNet chain: paragraph_dedup → repetition_filter → scrub as
    opt-in pipeline stages (VERDICT r6 items 1/4), each lineage-tracked,
    resume-idempotent, schema-guarded."""

    BANNER = "SUBSCRIBE NOW | Cookie policy | All rights reserved"

    def _text_pages(self, spark, rows):
        from insurance_pdf_extractor_spark.schemas import WEB_PAGES
        import datetime
        ts = datetime.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(u, ts, None, t, "en") for u, t in rows], schema=WEB_PAGES)

    def test_paradedup_rewrites_text_and_logs(self, spark, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        body = ["Claim report with genuinely unique narrative number "
                f"{i} covering distinct facts." for i in range(4)]
        web = self._text_pages(spark, [
            (f"https://x.test/{i}", f"{self.BANNER}\n{body[i]}")
            for i in range(4)])
        res = run_pipeline(spark, web, output_dir=str(tmp_path / "o1"),
                           run_id="pp", paragraph_dedup=True)
        docs = {r["url"]: r for r in res.docs.collect()}
        assert len(docs) == 4
        for i in range(4):
            r = docs[f"https://x.test/{i}"]
            assert self.BANNER not in r["text"]      # boilerplate gone
            assert body[i] in r["text"]              # content kept
            assert r["paras_total"] == 2
            assert r["paras_dropped"] == 1
        m = {x["stage"]: x for x in res.metrics.collect()}
        assert m["paradedup"]["doc_count"] == 4
        assert m["paradedup"]["fail_count"] == 4     # all docs touched

    def test_ccnet_order_banner_does_not_cause_false_dedup(
            self, spark, tmp_path):
        """Two docs sharing a DOMINANT banner but with different real
        content: minhash-only dedup collapses them (banner shingles
        dominate the signature); paragraph dedup BEFORE minhash keeps
        both — the order the stage chain exists to guarantee."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        banner = " ".join(
            f"boilerplate navigation token{j} footer" for j in range(40))
        narratives = [
            "storm ripped the roof shingles away during the hurricane",
            "kitchen pipe burst flooding two floors overnight quickly",
            "vehicle collision at the junction injured the driver",
            "warehouse fire destroyed the stored inventory completely",
        ]
        rows = [(f"https://b.test/{i}", f"{banner}\n{narratives[i]}")
                for i in range(4)]
        web = self._text_pages(spark, rows)
        plain = run_pipeline(spark, web, output_dir=None, resume=False,
                             dedup="minhash-lsh")
        n_plain = plain.docs.count()
        plain.unpersist()
        chained = run_pipeline(spark, web, output_dir=None, resume=False,
                               dedup="minhash-lsh", paragraph_dedup=True)
        n_chained = chained.docs.count()
        chained.unpersist()
        assert n_plain < 4          # banner shingles collapse the docs
        assert n_chained == 4       # stripped first → all survive

    def test_substrdedup_rewrites_and_logs(self, spark, tmp_path):
        """r7: exact duplicated-substring removal (Lee et al. 2022) as
        a pipeline stage — a >=k-word block shared by two docs is cut
        from BOTH, audited per doc, lineage-tracked."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        block = ("standard policy exclusion wording repeated verbatim "
                 "across every carrier template in the portfolio today")
        web = self._text_pages(spark, [
            ("https://ss.test/a",
             f"First unique claim narrative. {block} Trailing facts."),
            ("https://ss.test/b",
             f"Second distinct story here. {block} Other ending."),
            ("https://ss.test/c",
             "Wholly original narrative with no shared template text "
             "at all in it anywhere.")])
        res = run_pipeline(spark, web, output_dir=str(tmp_path / "os"),
                           run_id="ss", substring_dedup=True)
        docs = {r["url"]: r for r in res.docs.collect()}
        assert len(docs) == 3
        for u in ("https://ss.test/a", "https://ss.test/b"):
            assert "policy exclusion wording" not in docs[u]["text"]
            assert docs[u]["substr_words_removed"] >= 14
            assert docs[u]["substr_spans_removed"] == 1
        a = docs["https://ss.test/a"]["text"]
        assert "First unique claim narrative." in a
        assert "Trailing facts." in a
        c = docs["https://ss.test/c"]
        assert c["substr_words_removed"] == 0
        assert "original narrative" in c["text"]
        m = {x["stage"]: x for x in res.metrics.collect()}
        assert m["substrdedup"]["doc_count"] == 3
        assert m["substrdedup"]["fail_count"] == 2   # docs touched

    def test_substrdedup_schema_guard_and_validation(self, spark,
                                                     tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        web = self._text_pages(spark, [
            ("https://sg.test/1", "some narrative text one here"),
            ("https://sg.test/2", "other narrative text two there")])
        out = str(tmp_path / "og")
        # bad k fails BEFORE any write — no partial run state
        with pytest.raises(ValueError, match="substring_k"):
            run_pipeline(spark, web, output_dir=out, run_id="sv",
                         substring_dedup=True, substring_k=1)
        import os
        assert not os.path.exists(os.path.join(out, "docs"))
        run_pipeline(spark, web, output_dir=out, run_id="s1",
                     substring_dedup=True)
        more = self._text_pages(spark,
                                [("https://sg.test/3", "third text")])
        with pytest.raises(ValueError, match="substring_dedup"):
            run_pipeline(spark, more, output_dir=out, run_id="s2")

    def test_repetition_filter_drops_and_logs(self, spark, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        spam = " ".join(["buy cheap pills online now today"] * 30)
        clean = ("The adjuster reviewed the claim file thoroughly and "
                 "found every document in order before approving the "
                 "final settlement amount without further questions.")
        web = self._text_pages(spark, [
            ("https://r.test/spam", spam),
            ("https://r.test/clean", clean)])
        res = run_pipeline(spark, web, output_dir=str(tmp_path / "o2"),
                           run_id="rf", repetition_filter=True)
        urls = {r["url"] for r in res.docs.select("url").collect()}
        assert urls == {"https://r.test/clean"}
        m = {x["stage"]: x for x in res.metrics.collect()}
        assert m["repetition"]["doc_count"] == 1
        assert m["repetition"]["fail_count"] == 1
        # claims follow docs (the spam doc contributes nothing)
        claim_urls = {r["url"] for r in res.claims.collect()}
        assert "https://r.test/spam" not in claim_urls

    def test_decontaminate_drops_and_logs(self, spark, tmp_path):
        """r7: eval-set decontamination gate — a doc sharing a 13-gram
        window with the reference corpus is dropped with its claims;
        lineage stage 'decontam'."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        leak = ("the quick brown fox jumps over the lazy dog near "
                "the riverbank today")
        web = self._text_pages(spark, [
            ("https://dc.test/leaky",
             f"Narrative quoting the benchmark: {leak} verbatim."),
            ("https://dc.test/clean",
             "An original account of the water damage with no "
             "benchmark overlap anywhere in its text at all.")])
        ref = spark.createDataFrame(
            [(f"Q: {leak} — answer below",)], "text string")
        res = run_pipeline(spark, web, output_dir=str(tmp_path / "od"),
                           run_id="dc", decontaminate_ref=ref)
        urls = {r["url"] for r in res.docs.select("url").collect()}
        assert urls == {"https://dc.test/clean"}
        claim_urls = {r["url"] for r in res.claims.collect()}
        assert "https://dc.test/leaky" not in claim_urls
        m = {x["stage"]: x for x in res.metrics.collect()}
        assert m["decontam"]["doc_count"] == 1
        assert m["decontam"]["fail_count"] == 1
        # the no-output path honours the gate identically
        r2 = run_pipeline(spark, web, output_dir=None, resume=False,
                          decontaminate_ref=ref)
        assert {r["url"] for r in r2.docs.select("url").collect()} == \
            {"https://dc.test/clean"}
        r2.unpersist()

    def test_scrub_rewrites_and_audits(self, spark, tmp_path):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        web = self._text_pages(spark, [
            ("https://s.test/pii",
             "Contact adjuster at jane@example.com or 555-123-4567 "
             "regarding claim facts."),
            ("https://s.test/clean", "No personal data in this one.")])
        res = run_pipeline(spark, web, output_dir=str(tmp_path / "o3"),
                           run_id="sc", scrub=True)
        docs = {r["url"]: r for r in res.docs.collect()}
        t = docs["https://s.test/pii"]["text"]
        assert "[EMAIL]" in t and "[PHONE]" in t
        assert "jane@example.com" not in t
        assert docs["https://s.test/pii"]["pii_counts"]["email"] == 1
        assert docs["https://s.test/clean"]["pii_counts"]["email"] == 0
        m = {x["stage"]: x for x in res.metrics.collect()}
        assert m["scrub"]["doc_count"] == 2
        assert m["scrub"]["fail_count"] == 1        # docs with PII

    def test_chain_resume_is_idempotent(self, spark, tmp_path):
        """Re-offering the identical corpus to a chained output dir
        processes zero new docs and changes nothing (scrub/paradedup
        are deterministic per run scope; committed docs are skipped by
        the resume anti-join before any stage runs)."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        web = self._text_pages(spark, [
            (f"https://i.test/{i}",
             f"{self.BANNER}\nunique narrative {i} mail{i}@example.com")
            for i in range(4)])
        out = str(tmp_path / "o4")
        r1 = run_pipeline(spark, web, output_dir=out, run_id="c1",
                          paragraph_dedup=True, scrub=True,
                          dedup="minhash-lsh")
        n1 = r1.docs_written
        snap1 = {(r["url"], r["text"]) for r in
                 r1.docs.select("url", "text").collect()}
        r2 = run_pipeline(spark, web, output_dir=out, run_id="c2",
                          paragraph_dedup=True, scrub=True,
                          dedup="minhash-lsh")
        assert r2.docs_delta == 0
        assert r2.docs_written == n1
        snap2 = {(r["url"], r["text"]) for r in
                 r2.docs.select("url", "text").collect()}
        assert snap1 == snap2

    def test_schema_guard_on_flag_flip(self, spark, tmp_path):
        """Appending a scrub=False delta to a scrub=True table (or the
        reverse) would mix parquet schemas — guarded like the date
        layout."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        web = self._text_pages(spark, [
            ("https://g.test/1", "some narrative text one"),
            ("https://g.test/2", "other narrative text two")])
        out = str(tmp_path / "o5")
        run_pipeline(spark, web, output_dir=out, run_id="g1", scrub=True)
        more = self._text_pages(spark,
                                [("https://g.test/3", "third text")])
        with pytest.raises(ValueError, match="scrub"):
            run_pipeline(spark, more, output_dir=out, run_id="g2")
        with pytest.raises(ValueError, match="paragraph_dedup"):
            run_pipeline(spark, more, output_dir=out, run_id="g3",
                         scrub=True, paragraph_dedup=True)

    def test_chain_off_by_default(self, spark, web_pages, tmp_path):
        """A default run's docs schema carries none of the chain
        columns — byte-compat with r6 outputs."""
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        res = run_pipeline(spark, web_pages.limit(6),
                           output_dir=str(tmp_path / "o6"), run_id="d1")
        for col in ("pii_counts", "paras_total", "paras_dropped",
                    "substr_words_removed", "substr_spans_removed"):
            assert col not in res.docs.columns
        stages = {r["stage"] for r in res.metrics.collect()}
        assert not stages & {"scrub", "paradedup", "repetition"}


class TestStageList:
    """Both run modes take one stage list; its lineage rows come from the
    observations on barriers that run anyway, and a run appends them
    with the UDF's rows as one metrics file."""

    @staticmethod
    def _own_words(tag, i):
        """Fourteen words no other page shares."""
        return " ".join(f"w{j}{tag}p{i}" for j in range(14))

    @staticmethod
    def _chain_pages(spark, tag, n):
        from insurance_pdf_extractor_spark.schemas import WEB_PAGES
        import datetime
        ts = datetime.datetime(2024, 1, 1)
        banner = "SUBSCRIBE NOW | Cookie policy | All rights reserved"
        block = ("standard policy exclusion wording repeated verbatim "
                 "across every carrier template in the portfolio today")
        rows = [(f"https://sl.test/{tag}/{i}",
                 f"{banner}\n{TestStageList._own_words(tag, i)}. "
                 f"{block}\nmail{i}@example.com")
                for i in range(n)]
        return spark.createDataFrame(
            [(u, ts, None, t, "en") for u, t in rows], schema=WEB_PAGES)

    def test_full_chain_actions_and_one_metrics_file(self, spark, tmp_path,
                                                     monkeypatch):
        import linecache
        import sys

        from insurance_pdf_extractor_spark import pipeline as P
        ref = spark.createDataFrame([(self._own_words("r2", 3),)],
                                    "text string")
        flags = dict(quality_min=0.0, paragraph_dedup=True,
                     substring_dedup=True, repetition_filter=True,
                     decontaminate_ref=ref, scrub=True,
                     dedup="minhash-lsh")
        out = str(tmp_path / "out")
        P.run_pipeline(spark, self._chain_pages(spark, "r1", 4),
                       output_dir=out, run_id="sl1", **flags)
        metrics_dir = os.path.join(out, "metrics")

        def metric_files():
            return {f for f in os.listdir(metrics_dir)
                    if f.endswith(".parquet")}

        before = metric_files()
        calls = []
        here = os.path.realpath(P.__file__)
        frame_cls = type(spark.range(1))   # the session's DataFrame class
        for name in ("count", "first", "collect"):
            def wrapped(self, *a, _orig=getattr(frame_cls, name),
                        _name=name, **k):
                frame = sys._getframe(1)
                if os.path.realpath(frame.f_code.co_filename) == here:
                    calls.append((_name, frame.f_code.co_name,
                                  linecache.getline(frame.f_code.co_filename,
                                                    frame.f_lineno)))
                return _orig(self, *a, **k)
            monkeypatch.setattr(frame_cls, name, wrapped)
        res = P.run_pipeline(
            spark, self._chain_pages(spark, "r1", 4).unionByName(
                self._chain_pages(spark, "r2", 5)),
            output_dir=out, run_id="sl2", **flags)
        monkeypatch.undo()

        # only the ledger max and the band-overflow aggregate are left
        assert sorted((n, fn) for n, fn, _ in calls) == [
            ("count", "run_pipeline"), ("first", "_ledger_committed")], calls
        lines = {n: line for n, _, line in calls}
        assert "overflow" in lines["count"]
        assert "docs_total_after" in lines["first"]
        assert len(metric_files() - before) == 1
        assert not os.listdir(os.path.join(out, "_staging"))

        # one record per stage, chained: a gate's kept + dropped is the
        # previous stage's rows out, a rewrite keeps every row; the last
        # rows out is the run's delta
        rows = res.metrics.where(F.col("run_id") == "sl2").collect()
        m = {r["stage"]: r for r in rows if r["partition_id"] < 0}
        chain = ("quality", "paradedup", "substrdedup", "repetition",
                 "decontam", "scrub", "dedup")
        assert set(m) == set(chain) | {"dedup_bands_dropped"}
        n = sum(r["doc_count"] for r in rows if r["stage"] == "fields")
        assert n == 5
        for stage in chain:
            if stage in ("paradedup", "substrdedup", "scrub"):
                assert m[stage]["doc_count"] == n, stage
            else:
                assert m[stage]["doc_count"] + m[stage]["fail_count"] == n
            n = m[stage]["doc_count"]
        assert m["decontam"]["fail_count"] == 1       # the leaked page
        assert m["scrub"]["fail_count"] == n          # every mail redacted
        assert res.docs_delta == n == 4
        assert res.docs.where(F.col("url").startswith(
            "https://sl.test/r2/")).count() == n

    def test_run_starts_no_python_rdd(self, spark, tmp_path, monkeypatch):
        """A full-chain output-dir run builds its metrics and ledger rows
        in the JVM: nothing calls SparkContext.parallelize (the Python RDD
        behind createDataFrame(list), which forks a second Python worker
        pool next to the UDF's), and both tables keep their footers."""
        import glob

        import pyarrow.parquet as pq
        from pyspark import SparkContext

        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        src = str(tmp_path / "web")
        self._chain_pages(spark, "p1", 4).write.parquet(src)
        web = spark.read.parquet(src)
        ref = spark.range(1).select(
            F.lit(self._own_words("p1", 2)).alias("text"))

        def no_python_rdd(*a, **k):
            raise AssertionError("run_pipeline built a Python RDD")
        monkeypatch.setattr(SparkContext, "parallelize", no_python_rdd)
        out = str(tmp_path / "out")
        res = run_pipeline(spark, web, output_dir=out, run_id="np1",
                           quality_min=0.0, paragraph_dedup=True,
                           substring_dedup=True, repetition_filter=True,
                           decontaminate_ref=ref, scrub=True,
                           dedup="minhash-lsh")
        monkeypatch.undo()
        assert res.docs_delta == 3        # the leaked page is dropped

        def footer(table):
            files = glob.glob(os.path.join(out, table, "*.parquet"))
            assert len(files) == 1
            return [(f.name, str(f.type), f.nullable)
                    for f in pq.read_schema(files[0])]

        assert footer("metrics") == [
            ("run_id", "string", True), ("stage", "string", True),
            ("partition_id", "int32", True), ("doc_count", "int64", True),
            ("bytes", "int64", True), ("fail_count", "int64", True),
            ("wall_ms", "int64", True), ("attempt", "int32", True)]
        assert footer("ledger") == [("run_id", "string", True),
                                    ("docs_total_after", "int64", True)]
        ledger = spark.read.parquet(os.path.join(out, "ledger")).collect()
        assert [tuple(r) for r in ledger] == [("np1", 3)]
        stages = {r["stage"] for r in res.metrics.collect()}
        assert {"tokenize", "fields", "dedup", "dedup_bands_dropped"} <= stages
