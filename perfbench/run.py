"""Benchmark of record for ``run_pipeline(output_dir=...)``, the
committed pipeline path.

    python3 perfbench/run.py --workload extract_fresh --seed 42 \\
        --seconds 1 --trace 0

``--workload all`` runs every workload, one process each.

Run from the root of a checkout. The program under test is the package
next to this directory, driven only through its public functions on
``local[<nproc>]`` from this one process: a closed loop with one client,
each timed ``run_pipeline`` call starting after the previous one has
returned and committed. Inputs come from ``--seed``.

Each invocation starts one JVM and times its first ``run_pipeline``
call, the cold run, as one production ``spark-submit`` makes it. Runs
go on until ``--seconds`` have passed; any after the first are warm,
and are checked and recorded but not reported.

With ``--trace 0`` it prints the end-to-end metrics listed in
``BENCHMARK.json``, those of the cold run. With ``--trace 1`` it runs
with Spark's event log on, makes the cold run traced, and prints the
per-layer metrics (see ``layers.py``). The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; host
annotations and per-run details go to the lines above it and to
``.perfbench_work/results/``.

Everything the benchmark writes stays under ``.perfbench_work/`` in the
checkout; each invocation's scratch directory is removed when it ends,
and every process it started (the JVM and the Python workers) has
exited before the result is printed. ``chain_delta`` keeps its
committed history under ``.perfbench_work/cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "insurance_pdf_extractor_spark")
#: JVM heap, fixed and touched at start-up so that peak RSS does not
#: follow the collector's heap sizing from run to run
DRIVER_MEMORY = "2g"
#: C1-only JIT. One invocation is a short-lived JVM, like a production
#: spark-submit. C2 compiles more and later: over seven warm runs in one
#: JVM, extract_fresh cpu_s fell from 20 s to 12.6 s, and a full-chain
#: delta run after the history build took 78 CPU seconds with C2
#: against 53 with C1.
JVM_OPTIONS = (f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
               "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {JVM_OPTIONS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_spark(work: str, cores: int, event_log: str | None = None):
    from insurance_pdf_extractor_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores,
                      extra=spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, then wait for every descendant
    process (the JVM and its Python workers) to exit."""
    import procfs
    from pyspark import SparkContext
    descendants = procfs.tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for pid in procfs.wait_gone(descendants, 30):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    procfs.wait_gone(descendants, 10)


class Loop:
    """The closed loop: timed ``run_pipeline`` calls on one workload,
    each followed by its (untimed) output check."""

    def __init__(self, spark, wl):
        self.spark = spark
        self.wl = wl
        self.runs: list[dict] = []

    def call(self, out_dir: str, **kw):
        from insurance_pdf_extractor_spark.pipeline import run_pipeline
        web = self.spark.read.parquet(self.wl.input_path)
        return run_pipeline(self.spark, web, output_dir=out_dir,
                            **self.wl.flags, **kw)

    def timed(self, out_dir: str, **kw) -> dict:
        """One timed run into a prepared ``out_dir``, then its check."""
        import procfs
        import workloads
        self.wl.prepare(out_dir)
        before = workloads.data_files(out_dir)
        rec: dict = {"ok": False}
        try:
            cpu0 = procfs.tree_cpu_s()
            with procfs.PeakMemory() as mem, procfs.BusyCores() as busy:
                t0 = time.perf_counter()
                self.call(out_dir, **kw)
                rec["run_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procfs.tree_cpu_s() - cpu0
            rec["peak_rss_mb"] = mem.peak_mb
            rec["busy_cores"] = busy.value
            rec["steal_cores"] = busy.steal
            after = workloads.data_files(out_dir)
            new = {p: b for p, b in after.items() if p not in before}
            rec["files_written"] = len(new)
            rec["mb_written"] = sum(new.values()) / 2**20
            rec["docs_per_s"] = self.wl.offered / rec["run_s"]
            self.wl.check(out_dir)
            rec["ok"] = True
        except Exception:
            traceback.print_exc()
        self.runs.append(rec)
        return rec

    def measure(self, seconds: float) -> None:
        """Timed runs until ``seconds`` have passed (at least one). The
        first is the cold run; any later ones are warm."""
        t_end = time.monotonic() + seconds
        i = 0
        while not self.runs or time.monotonic() < t_end:
            out = os.path.join(self.wl.work, f"run{i}")
            rec = self.timed(out)
            shutil.rmtree(out, ignore_errors=True)
            print(f"run {i}: " + " ".join(
                f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                for k, v in rec.items()), flush=True)
            i += 1

    def cold(self) -> dict[str, float]:
        """The end-to-end values: those of the first, cold run."""
        keys = ("run_s", "docs_per_s", "cpu_s", "peak_rss_mb",
                "files_written", "mb_written")
        return {k: self.runs[0][k] for k in keys if k in self.runs[0]}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def emit(spec_metrics: list[dict], values: dict, correct: bool,
         attempted: int, failed: int) -> None:
    missing = [m["name"] for m in spec_metrics if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    for m in spec_metrics:
        print(f"{m['name']:34s} {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in spec_metrics}}), flush=True)


def bench(args, work: str, results: str) -> int:
    import procfs
    import workloads
    spec = load_spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = os.cpu_count() or 1
    host = {"nproc": cores, "loadavg_start": procfs.loadavg(),
            "cpu_probe_ms_start": procfs.cpu_probe_ms()}

    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, results, args.seed)
    wl.before_spark()
    # the event log can only be turned on with a new Spark context; a
    # traced invocation logs from the start
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = start_spark(work, cores, event_log=event_dir)
    setup_s = time.perf_counter() - t0
    loop = Loop(spark, wl)
    try:
        if args.trace:
            import layers
            trace = layers.Trace(spark, loop, work)
            trace.run()
        else:
            loop.measure(args.seconds)
            values = dict(loop.cold(), setup_s=setup_s)
    finally:
        stop_spark(spark)
    if args.trace:
        values = trace.metrics(event_dir, cores, results, os.path.join(
            results, f"{args.workload}-seed{args.seed}-spans.json"))
    host.update(loadavg_end=procfs.loadavg(),
                cpu_probe_ms_end=procfs.cpu_probe_ms(),
                busy_cores=[r.get("busy_cores") for r in loop.runs],
                steal_cores=[r.get("steal_cores") for r in loop.runs])
    failed = sum(not r["ok"] for r in loop.runs)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host, "setup_s": setup_s,
              "runs": loop.runs, "notes": wl.notes, "values": values}
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("host: " + json.dumps(host))
    print("notes: " + json.dumps(wl.notes, default=str))
    emit(spec["per_layer" if args.trace else "end_to_end"], values,
         correct=failed == 0, attempted=len(loop.runs), failed=failed)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no package at {PACKAGE}; run it from the root "
              f"of a full checkout", file=sys.stderr)
        return 2
    # the Python workers Spark forks import the package through this
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if args.workload == "all":     # each workload in its own process
        import workloads
        return max(subprocess.call(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]) for name in workloads.WORKLOADS)
    base = os.path.join(ROOT, ".perfbench_work")
    results = os.path.join(base, "results")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        return bench(args, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
