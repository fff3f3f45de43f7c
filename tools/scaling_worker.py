"""Run the extraction pipeline at a given parallelism and print one JSON
line.

Invoked by tools/scaling_bench.py in a fresh subprocess per parallelism
level (a SparkSession's master can't change in-process).

Usage: python tools/scaling_worker.py <spec> <n_docs>
  spec = "8"    → local[8]            (thread mode: one shared JVM)
  spec = "4x8"  → local-cluster[4,8]  (executor mode: 4 SEPARATE
                  executor JVMs × 8 cores — the shape the north_rule
                  names: N vs 4N *executors*. Thread mode makes all 4N
                  task slots share one JVM's GC/locks, a local-mode
                  artifact no real cluster has.)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

from bench import ensure_fixture_corpus  # noqa: E402
from insurance_pdf_extractor_spark.pipeline import run_pipeline  # noqa: E402
from insurance_pdf_extractor_spark.session import get_spark  # noqa: E402


def main() -> None:
    spec = sys.argv[1]
    n_docs = int(sys.argv[2])
    path = ensure_fixture_corpus(n_docs)

    if "x" in spec:
        _cores = 1
        for v in spec.split("x"):
            _cores *= int(v)
    else:
        _cores = int(spec)
    # Partitioning mode under test. "auto" = the pipeline's documented
    # preferred path at scale (pipeline.py module doc): the parquet scan
    # itself provides size-balanced splits and the fat binary column is
    # NEVER shuffled — split size is derived from the corpus so the scan
    # yields ~3x cores partitions (comfortably above run_pipeline's
    # 2x-cores auto threshold, with wave balancing to spare). "always" =
    # the skew-fallback explicit repartition on xxhash64(url).
    repartition = os.environ.get("SCALING_REPARTITION", "always")
    if repartition == "auto":
        split = max(1 << 20, os.path.getsize(path) // (_cores * 3))
        os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = str(split)

    if "x" in spec:
        n_exec, per_exec = (int(v) for v in spec.split("x"))
        cores = n_exec * per_exec
        import pyspark
        os.environ.setdefault("SPARK_HOME",
                              os.path.dirname(pyspark.__file__))
        spark = get_spark(
            app_name=f"scaling-{spec}",
            master=f"local-cluster[{n_exec},{per_exec},8192]",
            shuffle_partitions=cores,
            extra={"spark.executor.memory": "8g",
                   # executor python workers must import the engine
                   "spark.executorEnv.PYTHONPATH": os.path.abspath(ROOT),
                   # straggler insurance: under the full-width load burst
                   # a Python-UDF task can wedge permanently (observed:
                   # the stdout-writer thread died mid-task, leaving the
                   # JVM reading from a worker that is itself blocked on
                   # recv — both sides wait forever and the job never
                   # finishes). Speculation re-launches any task >4x the
                   # 0.9-quantile runtime, turning a wedged ~40 s task
                   # into one duplicate attempt instead of a dead bench;
                   # it is also what a real 1000-executor job runs with.
                   # Measured cost on healthy runs: within window noise
                   # (r4 A/B) — worth carrying for the fault tolerance.
                   "spark.speculation": "true",
                   "spark.speculation.quantile": "0.9",
                   "spark.speculation.multiplier": "4"})
    else:
        cores = int(spec)
        spark = get_spark(app_name=f"scaling-{cores}",
                          master=f"local[{cores}]",
                          shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    web = spark.read.parquet(path)

    # Warmup must reach EVERY core's Python worker: a limit() warmup only
    # starts a few workers and the first real run then pays a 32-wide
    # import storm inside the measured window. Full-width dummy pass,
    # on mapInArrow like the fused stage, so it warms that worker kind
    # and leaves no pandas import behind in the reused workers:
    def _import_engine(batches):
        import insurance_pdf_extractor_spark.operators.fused  # noqa: F401
        yield from batches

    (spark.range(0, cores * 64, numPartitions=cores * 4)
          .mapInArrow(_import_engine, schema="id long").count())
    # FULL-SIZE uncounted warmup run: executor JVMs JIT the parquet/
    # shuffle/Arrow hot paths only under real load — a limit() warmup
    # left the first executor-mode timed run 2-4x cold (measured
    # 107.9 s vs 20.2 s steady at 4x8)
    run_pipeline(spark, web, output_dir=None, resume=False,
                 num_partitions=cores * 2, repartition=repartition,
                 cache_intermediate=False).claims.count()

    # four timed runs, min reported — at the target scale the job runs
    # for hours, so amortized-startup throughput is the honest number;
    # the min also skips runs a mid-window neighbor spike contaminated
    # (this box's loadavg jumps >10 with nothing running in the
    # container). Per-run loadavg samples ship in the artifact so
    # contaminated runs are visible.
    def _probe_loops(sec: float = 0.5) -> float:
        """Single-core busy-loop rate (loops/s — a relative noise probe,
        distinct from the bench's workload-matched calibration): neighbor
        pressure on the shared host shows as a depressed probe even when
        loadavg (which our own runs dominate) says nothing."""
        t0 = time.monotonic()
        n_loops = 0
        while time.monotonic() - t0 < sec:
            sum(i * i for i in range(1000))
            n_loops += 1
        return n_loops / sec

    def _cpu_busy_ticks() -> int:
        """Host-wide non-idle jiffies (all CPUs): /proc/stat counts every
        container on this box, so during OUR pinned c-core run a mean
        busy-core figure well above c is direct, non-circular evidence of
        neighbor activity inside the timed window."""
        with open("/proc/stat") as f:
            v = list(map(int, f.readline().split()[1:]))
        return sum(v) - v[3] - v[4]        # minus idle, iowait

    tick_hz = os.sysconf("SC_CLK_TCK")

    times = []
    loads = []
    probes = []
    busy_cores = []
    # corpus size is a constant of the input, not of a timed run —
    # counted once OUTSIDE the loop (footer-metadata job; inside the
    # loop it was pure fixed overhead, felt 4x harder at the high level)
    n = web.count()
    n_runs = int(os.environ.get("SCALING_RUNS", "4"))
    # Probe gate: loadavg is a 1-min trailing average our own runs
    # dominate, so it can't see a neighbor burst that starts NOW. The
    # busy-loop probe can — between runs our session is idle, so a
    # depressed probe (vs the best rate this process has seen) means
    # neighbor pressure. Hold each timed run until the instant is calm
    # or the wait budget runs out (recorded probes expose any run that
    # started depressed anyway).
    probe_floor = float(os.environ.get("SCALING_PROBE_FLOOR", "0.75"))
    probe_wait = float(os.environ.get("SCALING_PROBE_WAIT", "120"))
    best_probe = 0.0
    for _ in range(n_runs):
        spark.catalog.clearCache()  # identical plans must not reuse cache
        t_gate = time.monotonic()
        while True:
            p = _probe_loops()
            best_probe = max(best_probe, p)
            if (p >= probe_floor * best_probe
                    or time.monotonic() - t_gate > probe_wait):
                break
            time.sleep(5)
        probes.append(round(p, 1))
        with open("/proc/loadavg") as f:
            la_pre = float(f.read().split()[0])
        busy0 = _cpu_busy_ticks()
        t0 = time.monotonic()
        # cache off + claims action = exactly ONE execution of the UDF
        # stage per timed run (docs.count() would branch the plan twice;
        # persisting the fat intermediate at this size spills)
        res = run_pipeline(spark, web, output_dir=None, resume=False,
                           num_partitions=cores * 2,
                           repartition=repartition,
                           cache_intermediate=False)
        res.claims.count()
        elapsed = time.monotonic() - t0
        times.append(elapsed)
        busy_cores.append(
            round((_cpu_busy_ticks() - busy0) / tick_hz / elapsed, 1))
        with open("/proc/loadavg") as f:
            la_post = float(f.read().split()[0])
        loads.append([la_pre, la_post])
    dt = min(times)
    print(json.dumps({"cores": cores, "docs": n, "sec": round(dt, 3),
                      "repartition": repartition,
                      "scan_partitions": web.rdd.getNumPartitions(),
                      "docs_per_sec": round(n / dt, 2),
                      "all_runs_sec": [round(t, 3) for t in times],
                      "busy_cores_per_run": busy_cores,
                      "loadavg_per_run": loads,
                      "probe_loops_per_run": probes}))
    spark.stop()


if __name__ == "__main__":
    main()
