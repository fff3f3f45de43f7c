"""Builds the committed history of the ``chain_delta`` workload.

    python3 perfbench/history.py <dest>

A fresh ``run_pipeline`` call with the workload's flags (cross-run
MinHash dedup) over ``inputs.history_rows(HISTORY, HISTORY_SEED)``,
committed to ``<dest>``. It runs in a process of its own, so that the
JVM of the invocation that times the delta is as cold as a production
``spark-submit`` of one delta. The corpus holds near duplicates, so the
build must report dropped docs; it exits non-zero otherwise, and on any
error.

``run.py`` calls it once per checkout and program version and keeps the
result under ``.perfbench_work/cache/`` (see ``workloads.ChainDelta``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build(dest: str) -> dict:
    import inputs
    import run
    import workloads
    from insurance_pdf_extractor_spark.pipeline import run_pipeline
    wl = workloads.ChainDelta
    work = dest + ".work"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    src = os.path.join(work, "history.parquet")
    inputs.write_parquet(src, inputs.history_rows(wl.HISTORY,
                                                  wl.HISTORY_SEED))
    spark = run.start_spark(work, os.cpu_count() or 1)
    try:
        t0 = time.perf_counter()
        run_pipeline(spark, spark.read.parquet(src), output_dir=dest,
                     **wl.flags)
        build_s = time.perf_counter() - t0
    finally:
        run.stop_spark(spark)
    lineage = workloads.lineage(dest, wl.STAGES)
    idle = [s for s in wl.STAGES
            if lineage.get(s, {}).get("fail_count", 0) <= 0]
    if idle:
        raise workloads.CheckFailed(
            f"stages with no work in the history build: {idle}")
    return {"history_build_s": build_s, "history_lineage": lineage}


def main(argv) -> int:
    if len(argv) != 1:
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    dest = os.path.abspath(argv[0])
    try:
        notes = build(dest)
    finally:
        shutil.rmtree(dest + ".work", ignore_errors=True)
    with open(os.path.join(dest, "perfbench_history.json"), "w") as f:
        json.dump(notes, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
