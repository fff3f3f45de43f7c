"""Per-layer metrics from one traced run (``--trace 1``).

A traced invocation runs with Spark's JSON event log on from the start
and labels every call with a job group named after its span, so each
Spark job, task and SQL execution can be attributed. Its traced run is,
like the timed run of an untraced invocation, the first run of a fresh
JVM. The tracing overhead is its ``run_s`` minus the median ``run_s``
of the untraced invocations of the same workload recorded in this
checkout (any seed), and 0 when there are none. Layers are named after
the package's modules. Two methods measure them:

1. **Stepwise pass.** Each public function is called on its own, with a
   ``localCheckpoint`` (or, for the fused UDF, a parquet) barrier
   between steps: scan (with the resume anti-join when there is
   history) → ``sniff`` → ``tokenize_and_extract`` → ``finalize``, then,
   for a chain workload, ``dedup_paragraphs`` → ``dedup_substrings`` →
   ``gopher_repetition_keepers`` → ``scrub_pii`` →
   ``minhash_signatures_from_docs`` → ``lsh_pairs_from_signatures`` →
   ``dedup_documents`` over ``inputs.chain_rows``, a fresh chain run's
   input, built so that every stage rewrites or drops a share (the
   invocation fails its check otherwise). Barriers add work, so step
   sums exceed the fused run; their ratios attribute the cost.
2. **Traced full run.** One ``run_pipeline`` call whose event log is
   folded by output path: each SQL execution that writes a committed
   table is charged to that commit step.

The pure-Python layers (``textops``, ``html_extract``, ``fields``) are
timed single-threaded in the driver on the workload's own inputs: the
single-core baseline of the per-document parse.

Spans (name, start, end, parent, run id) are kept in memory and written
to ``.perfbench_work/results/`` when the run ends. A chain-stage metric
reads 0 on a workload that runs no chain.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

import eventlog
import workloads

#: chain stage span name -> name of its useful/attempted ratio
CHAIN_RATIOS = {"dedup.paragraphs": "touched_frac",
                "dedup.substrings": "touched_frac",
                "scrub.repetition": "kept_frac",
                "scrub.pii": "touched_frac",
                "dedup.minhash": "touched_frac",
                "dedup.pairs": "touched_frac",
                "dedup.cc": "kept_frac"}
TRACED_RUN_ID = "perfbench-traced"


class Tracer:
    """In-memory spans; entering a span also sets the Spark job group."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, f"perfbench {name}")
        start = time.perf_counter() - self.t0
        try:
            yield
        finally:
            end = time.perf_counter() - self.t0
            self._stack.pop()
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent, f"perfbench {parent}")

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)


def python_baseline(rows: list[dict]) -> dict[str, float]:
    """ms per doc of the pure-Python parse and fields, one thread, over
    the docs each layer applies to (0 when none do)."""
    from insurance_pdf_extractor_spark import fields, html_extract, textops
    tot = {"textops": [0.0, 0], "html_extract": [0.0, 0], "fields": [0.0, 0]}
    for r in rows:
        html, text = r["html"], r["text"]
        kind = (textops.classify_bytes(html) if html is not None
                else "text" if text is not None else "empty")
        t0 = time.perf_counter()
        if kind == "pdf":
            text, layer = textops.extract_pdf_document(html)["text"], "textops"
        elif kind == "html":
            text = html_extract.extract_html_document(html)["text"]
            layer = "html_extract"
        else:
            text, layer = (text if kind == "text" else ""), None
        t1 = time.perf_counter()
        fields.extract_document_fields(text or "")
        t2 = time.perf_counter()
        if layer:
            tot[layer][0] += t1 - t0
            tot[layer][1] += 1
        tot["fields"][0] += t2 - t1
        tot["fields"][1] += 1
    return {f"{k}.ms_per_doc": 1000 * s / n if n else 0.0
            for k, (s, n) in tot.items()}


def untraced_run_s(results: str, workload: str) -> float | None:
    """Median cold ``run_s`` of the untraced invocations of ``workload``
    recorded in ``results`` (any seed), or None when there are none."""
    cold = []
    for path in glob.glob(os.path.join(results, f"{workload}-seed*-trace0"
                                                ".json")):
        with open(path) as f:
            runs = json.load(f)["runs"]
        if runs and runs[0].get("ok"):
            cold.append(runs[0]["run_s"])
    return statistics.median(cold) if cold else None


class Trace:
    """The traced part of a ``--trace 1`` run."""

    def __init__(self, spark, loop, work: str):
        self.spark = spark
        self.loop = loop
        self.wl = loop.wl
        self.work = work
        self.tracer = Tracer(spark.sparkContext, os.path.basename(work))
        self.counts: dict[str, float] = {}
        self.out = os.path.join(work, "traced")

    def run(self) -> None:
        """The traced run, the cold first run of the JVM like an untraced
        invocation's timed run, then the stepwise pass."""
        span = self.tracer.span
        web = self.spark.read.parquet(self.wl.input_path)
        with span("run_pipeline"):
            rec = self.loop.timed(self.out, run_id=TRACED_RUN_ID)
        if "run_s" not in rec:
            raise RuntimeError("the traced run failed")
        self.run_s = rec["run_s"]
        self.stepwise(web)
        if hasattr(self.wl, "chain_input"):
            self.chain_steps()
            # the chain corpus is built so that every stage has work
            idle = [st for st, ratio in CHAIN_RATIOS.items()
                    if (self.counts[st] >= 1 if ratio == "kept_frac"
                        else self.counts[st] <= 0)]
            if idle:
                print(f"chain stages with no work: {idle}", file=sys.stderr)
            self.loop.runs.append({"ok": not idle, "step": "chain_steps",
                                   "idle_stages": idle})
        self.baseline = python_baseline(self.wl.rows)

    def stepwise(self, web) -> None:
        from pyspark.sql import functions as F

        from insurance_pdf_extractor_spark.lineage import split_metrics
        from insurance_pdf_extractor_spark.operators.finalize import finalize
        from insurance_pdf_extractor_spark.operators.fused import (
            tokenize_and_extract)
        from insurance_pdf_extractor_spark.operators.sniff import sniff
        span = self.tracer.span
        history = getattr(self.wl, "history", None)
        with span("scan"):
            df = web
            if history is not None:     # the resume anti-join
                committed = self.spark.read.parquet(
                    os.path.join(history, "docs")).select("url")
                df = df.join(committed, "url", "left_anti")
            n_parts = max(self.spark.sparkContext.defaultParallelism * 2, 8)
            if df.rdd.getNumPartitions() < n_parts:
                df = (df.withColumn("_h", F.xxhash64("url"))
                      .repartition(n_parts, "_h").drop("_h"))
            scanned = df.localCheckpoint()
        with span("sniff"):
            sniffed = sniff(scanned).localCheckpoint()
        staged = os.path.join(self.work, "steps", "fused")
        with span("fused"):
            (tokenize_and_extract(sniffed, "perfbench-steps")
             .write.mode("overwrite").parquet(staged))
        fields, _ = split_metrics(self.spark.read.parquet(staged))
        row = fields.agg(F.count("*").alias("n"),
                         F.count("error").alias("err")).first()
        self.counts["fused.docs"] = row["n"]
        self.counts["fused.errors"] = row["err"]
        with span("finalize"):
            claims, docs = finalize(fields)
            docs.write.format("noop").mode("overwrite").save()
            claims.write.format("noop").mode("overwrite").save()

    def chain_steps(self) -> None:
        """The chain stages in pipeline order, over the chain corpus
        (a fresh chain run's input), each behind a barrier."""
        from pyspark.sql import functions as F

        from insurance_pdf_extractor_spark.dedup import (
            dedup_documents, dedup_paragraphs, dedup_substrings,
            lsh_pairs_from_signatures, minhash_signatures_from_docs)
        from insurance_pdf_extractor_spark.operators.fused import (
            tokenize_and_extract)
        from insurance_pdf_extractor_spark.operators.sniff import sniff
        from insurance_pdf_extractor_spark.scrub import (
            gopher_repetition_keepers, scrub_pii)
        span, counts = self.tracer.span, self.counts
        with span("chain.input"):
            web = self.spark.read.parquet(self.wl.chain_input)
            text = (tokenize_and_extract(sniff(web), "perfbench-chain")
                    .where(F.col("_metric").isNull())
                    .select(F.col("url").alias("doc_id"), "text")
                    .localCheckpoint())
        n = text.count()

        def frac(df, cond=None) -> float:
            return (df.where(cond) if cond is not None else df).count() / n

        with span("dedup.paragraphs"):
            pd = dedup_paragraphs(text).localCheckpoint()
        counts["dedup.paragraphs"] = frac(pd, F.col("paras_dropped") > 0)
        text = pd.select("doc_id", F.col("text_kept").alias("text"))
        with span("dedup.substrings"):
            ss = dedup_substrings(text).localCheckpoint()
        counts["dedup.substrings"] = frac(ss, F.col("words_removed") > 0)
        text = ss.select("doc_id", F.col("text_kept").alias("text"))
        with span("scrub.repetition"):
            text = text.join(gopher_repetition_keepers(text), "doc_id",
                             "left_semi").localCheckpoint()
        counts["scrub.repetition"] = frac(text)
        with span("scrub.pii"):
            sc = scrub_pii(text).localCheckpoint()
        counts["scrub.pii"] = frac(sc, F.exists(F.map_values("pii_counts"),
                                                lambda v: v > 0))
        text = sc.select("doc_id", F.col("text_scrubbed").alias("text"))
        with span("dedup.minhash"):
            sig = minhash_signatures_from_docs(text).localCheckpoint()
        counts["dedup.minhash"] = frac(sig)
        with span("dedup.pairs"):
            pairs = lsh_pairs_from_signatures(sig).localCheckpoint()
        counts["dedup.pairs"] = frac(
            pairs.select(F.col("doc_a").alias("d"))
            .union(pairs.select(F.col("doc_b").alias("d"))).distinct())
        with span("dedup.cc"):
            verdict = dedup_documents(text.select("doc_id"),
                                      pairs).localCheckpoint()
        counts["dedup.cc"] = frac(verdict, F.col("is_keeper"))

    def metrics(self, event_dir: str, cores: int, results: str,
                dump_path: str) -> dict[str, float]:
        """Fold the event log (after the context stopped) into the
        per-layer metrics."""
        logs = [p for p in glob.glob(os.path.join(event_dir, "*"))
                if not p.endswith(".inprogress")]
        fold = eventlog.fold(eventlog.read_events(logs[0]))
        groups, paths = fold["groups"], fold["paths"]
        zero = eventlog.zero()
        g = lambda name: groups.get(name, zero)       # noqa: E731
        p = lambda rel: paths.get(os.path.join(self.out, rel), zero)  # noqa
        s = self.tracer.seconds
        docs = self.counts["fused.docs"]
        v = dict(self.baseline)
        v.update({
            "scan.s": s("scan"), "scan.tasks": g("scan")["tasks"],
            "scan.shuffle_write_mb": g("scan")["shuffle_write_mb"],
            "sniff.s": s("sniff"),
            "fused.s": s("fused"), "fused.task_s": g("fused")["task_s"],
            "fused.ms_per_doc_core":
                1000 * g("fused")["task_s"] / docs if docs else 0.0,
            "fused.out_mb": g("fused")["mb_written"],
            "fused.error_frac":
                self.counts["fused.errors"] / docs if docs else 0.0,
            "finalize.s": s("finalize"),
            "finalize.task_s": g("finalize")["task_s"],
            "finalize.shuffle_write_mb": g("finalize")["shuffle_write_mb"],
        })
        for stage, ratio in CHAIN_RATIOS.items():
            v[f"{stage}.s"] = s(stage)
            v[f"{stage}.shuffle_write_mb"] = g(stage)["shuffle_write_mb"]
            v[f"{stage}.spill_mb"] = g(stage)["spill_mb"]
            v[f"{stage}.{ratio}"] = self.counts.get(stage, 0.0)
        committed = [p(t) for t in workloads.TABLES]
        v.update({
            "commit.staging_s":
                p(os.path.join("_staging", TRACED_RUN_ID))["wall_s"],
            "commit.claims_s": p("claims")["wall_s"],
            "commit.docs_s": p("docs")["wall_s"],
            "commit.signatures_s": p("signatures")["wall_s"],
            "commit.meta_s": p("metrics")["wall_s"] + p("ledger")["wall_s"],
            "commit.files": sum(t["files_written"] for t in committed),
            "commit.mb": sum(t["mb_written"] for t in committed),
        })
        run = g("run_pipeline")
        v.update({
            "pipeline.jobs": run["jobs"],
            "pipeline.task_s": run["task_s"],
            "pipeline.core_idle_frac":
                1 - run["task_s"] / (cores * self.run_s),
        })
        untraced = untraced_run_s(results, self.wl.name)
        v["tracing.overhead_s"] = self.run_s - untraced if untraced else 0.0
        with open(dump_path, "w") as f:
            json.dump({"spans": self.tracer.spans, "counts": self.counts,
                       "eventlog": {"groups": groups, "paths": paths},
                       "untraced_run_s": untraced,
                       "traced_run_s": self.run_s, "layers": v}, f,
                      indent=1)
        return v
