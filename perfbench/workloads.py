"""The benchmark's workloads: inputs, set-up and output checks.

An invocation times the first ``run_pipeline`` call of a fresh JVM, as
one production ``spark-submit`` makes it. Every run is checked after it
returned, outside the timed window: committed urls are unique, the
ledger maximum equals the docs row count, and the sorted
``(url, sha256(text))`` digest of the committed docs equals the digest
of the first run of the same workload and seed in this checkout (kept
in ``.perfbench_work/results/``). Each workload adds its own checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: committed tables whose data files count as written
TABLES = ("docs", "claims", "signatures", "metrics", "ledger")


class CheckFailed(Exception):
    pass


def data_files(out_dir: str) -> dict[str, int]:
    """{path: bytes} of the parquet data files of the committed tables."""
    files = {}
    for table in TABLES:
        for dirpath, _, names in os.walk(os.path.join(out_dir, table)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    files[p[len(out_dir):]] = os.path.getsize(p)
    return files


def read_docs(out_dir: str) -> dict[str, str]:
    """Committed {url: text}; raises CheckFailed on a duplicate url."""
    t = pq.read_table(os.path.join(out_dir, "docs"), columns=["url", "text"])
    urls, texts = t.column("url").to_pylist(), t.column("text").to_pylist()
    docs = dict(zip(urls, texts))
    if len(docs) != len(urls):
        raise CheckFailed(f"{len(urls) - len(docs)} duplicate committed urls")
    return docs


def digest(docs: dict[str, str]) -> str:
    h = hashlib.sha256()
    for url in sorted(docs):
        h.update(url.encode())
        h.update(hashlib.sha256((docs[url] or "").encode()).digest())
    return h.hexdigest()


def check_ledger(out_dir: str, n_docs: int) -> None:
    ledger = pq.read_table(os.path.join(out_dir, "ledger"))
    top = max(ledger.column("docs_total_after").to_pylist())
    if top != n_docs:
        raise CheckFailed(f"ledger max {top} != {n_docs} committed docs")


def run_ids(out_dir: str) -> set[str]:
    """Ids of the runs recorded in the metrics table."""
    m = pq.read_table(os.path.join(out_dir, "metrics"), columns=["run_id"])
    return set(m.column("run_id").to_pylist())


def lineage(out_dir: str, stages: tuple[str, ...],
            skip_runs: set[str] = frozenset()) -> dict[str, dict]:
    """Per stage {doc_count, fail_count} from the metrics table, summed
    over the runs not in ``skip_runs``: docs out of the stage, and docs
    it rewrote or dropped. Of a row written more than once (same run,
    stage and partition), the highest attempt counts."""
    rows: dict[tuple, dict] = {}
    for r in pq.read_table(os.path.join(out_dir, "metrics")).to_pylist():
        key = (r["run_id"], r["stage"], r["partition_id"])
        if (r["stage"] in stages and r["run_id"] not in skip_runs
                and (key not in rows
                     or (r["attempt"] or 0) > (rows[key]["attempt"] or 0))):
            rows[key] = r
    out: dict[str, dict] = {}
    for r in rows.values():
        agg = out.setdefault(r["stage"], {"doc_count": 0, "fail_count": 0})
        agg["doc_count"] += r["doc_count"]
        agg["fail_count"] += r["fail_count"]
    return out


def source_key() -> str:
    """Hash of the program's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "insurance_pdf_extractor_spark"), HERE):
        for dirpath, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(dirpath, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


class Workload:
    """Base: ``before_spark`` makes the inputs; ``prepare`` makes a ready
    output dir for the timed run; ``check`` validates what it
    committed."""

    name = ""
    flags: dict = {}

    def __init__(self, work: str, results: str, seed: int):
        self.work = work
        self.results = results
        self.seed = seed
        self.input_path = os.path.join(work, "input.parquet")
        self.offered = 0
        self.notes: dict = {}

    def before_spark(self) -> None:
        """Set-up that needs no Spark session."""

    def prepare(self, out_dir: str) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)

    def verify(self, out_dir: str, docs: dict[str, str]) -> None:
        """The workload's own checks."""

    def check(self, out_dir: str) -> dict[str, str]:
        docs = read_docs(out_dir)
        check_ledger(out_dir, len(docs))
        self.verify(out_dir, docs)
        got = digest(docs)
        ref_path = os.path.join(self.results,
                                f"{self.name}-seed{self.seed}.digest")
        if not os.path.exists(ref_path):
            with open(ref_path, "w") as f:
                f.write(got)
        with open(ref_path) as f:
            ref = f.read()
        if got != ref:
            raise CheckFailed(f"digest {got[:12]} != {ref[:12]}, that of "
                              f"the first run with seed {self.seed}")
        return docs


class ExtractFresh(Workload):
    """PDF-heavy fixture mix into a fresh output dir, chain off."""

    name = "extract_fresh"
    flags: dict = {}
    DOCS = 3000
    SAMPLE = 48

    def before_spark(self) -> None:
        from freeze_goldens import extract_row
        rows = inputs.extract_rows(self.DOCS, self.seed)
        self.rows = rows
        inputs.write_parquet(self.input_path, rows)
        self.offered = len(rows)
        # committed text must equal the pure-Python core's, byte for byte
        sample = random.Random(self.seed).sample(rows, self.SAMPLE)
        self.expected = {r["url"]: extract_row(r)["text"] or ""
                         for r in sample}
        self.golden = {}
        if self.seed == 42:
            path = os.path.join(ROOT, "tests", "golden", "manifest.json")
            with open(path, encoding="utf-8") as f:
                self.golden = {u: e["sha256"] for u, e in json.load(f).items()}

    def verify(self, out_dir: str, docs: dict[str, str]) -> None:
        if len(docs) != self.offered:
            raise CheckFailed(f"{len(docs)} docs committed, "
                              f"{self.offered} offered")
        bad = [u for u, t in self.expected.items() if (docs[u] or "") != t]
        bad += [u for u, sha in self.golden.items()
                if hashlib.sha256((docs[u] or "").encode()).hexdigest()
                != sha]
        if bad:
            raise CheckFailed(f"{len(bad)} docs differ from the pure-Python "
                              f"core, e.g. {bad[0]}")


class ChainDelta(Workload):
    """A small delta with cross-run MinHash dedup against committed
    history.

    The history does not depend on the seed: it is built once per
    checkout and program version, by ``history.py`` in a process of its
    own, with the same flags, and kept under ``.perfbench_work/cache/``.
    Each timed run starts from an identical copy of it; the copy is not
    timed.

    The text-quality stages stay off: each adds fixed cost to every run,
    and a cold delta run with all of them takes ~50-65 s on 4 vCPUs, too
    long for the benchmark's time budget. The traced run measures them
    stage by stage over ``inputs.chain_rows`` instead (``layers.py``)."""

    name = "chain_delta"
    flags = {"dedup": "minhash-lsh"}
    #: lineage stages that must report a drop in every run
    STAGES = ("dedup",)
    HISTORY, HISTORY_SEED = 500, 42
    NEW, REOFFERED, NEAR = 75, 15, 10

    def before_spark(self) -> None:
        self.history = self.cached_history()
        with open(os.path.join(self.history, "perfbench_history.json")) as f:
            self.notes.update(json.load(f))
        history = read_docs(self.history)
        self.history_urls = sorted(history)
        self.history_digest = digest(history)
        self.history_runs = run_ids(self.history)
        # the corpus of the traced run's stage-by-stage chain pass
        self.chain_input = os.path.join(self.work, "chain.parquet")
        inputs.write_parquet(self.chain_input, inputs.chain_rows(
            self.HISTORY, self.HISTORY_SEED))
        self.rows, self.kinds = inputs.delta_rows(
            self.HISTORY, self.HISTORY_SEED, self.NEW, self.REOFFERED,
            self.NEAR, self.seed)
        inputs.write_parquet(self.input_path, self.rows)
        self.offered = len(self.rows)

    def cached_history(self) -> str:
        cache = os.path.join(os.path.dirname(self.work), "cache")
        path = os.path.join(cache, f"chain-history-{source_key()}")
        if os.path.isdir(path):
            self.notes["history_cached"] = True
            return path
        shutil.rmtree(cache, ignore_errors=True)    # older versions
        os.makedirs(cache)
        tmp = path + ".building"
        t0 = time.perf_counter()
        proc = subprocess.Popen([sys.executable,
                                 os.path.join(HERE, "history.py"), tmp],
                                start_new_session=True)
        try:
            code = proc.wait(timeout=600)
        finally:
            # the build's JVM and Python workers are in its process group;
            # after a clean exit the group is already empty
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if code != 0:
            raise CheckFailed(f"history build exited with {code}")
        os.rename(tmp, path)
        self.notes["history_cached"] = False
        self.notes["history_process_s"] = time.perf_counter() - t0
        return path

    def prepare(self, out_dir: str) -> None:
        super().prepare(out_dir)
        shutil.copytree(self.history, out_dir)

    def verify(self, out_dir: str, docs: dict[str, str]) -> None:
        if digest({u: docs.get(u) for u in self.history_urls}) \
                != self.history_digest:
            raise CheckFailed("the delta run changed committed history")
        added = len(docs) - len(self.history_urls)
        if added > self.NEW + self.NEAR:
            raise CheckFailed(f"{added} docs added; re-offered urls must "
                              f"be skipped")
        dropped = [u for u in self.kinds["near"] if u not in docs]
        if not dropped:
            raise CheckFailed("no near duplicate of history was dropped")
        stages = lineage(out_dir, self.STAGES, skip_runs=self.history_runs)
        idle = [s for s in self.STAGES
                if stages.get(s, {}).get("fail_count", 0) <= 0]
        if idle:
            raise CheckFailed(f"stages with no work in the delta run: "
                              f"{idle}")
        self.notes["delta_lineage"] = stages
        self.notes["near_dups_dropped"] = len(dropped)
        self.notes["docs_added"] = added


#: in the order of BENCHMARK.json; the first invocation of chain_delta
#: in a checkout also builds its history
WORKLOADS = {w.name: w for w in (ChainDelta, ExtractFresh)}
