"""Scale-adaptive input-parallelism guard (optimization guide §2.5,
"Input skew": one huge unsplittable file → repartition immediately after
the read).

The text/embedding operators in this engine do their heaviest work on
the MAP side of the first shuffle (n-gram explodes, per-shingle hashes,
per-vector distance folds). That work parallelizes exactly as far as
the SCAN does — and a parquet table written as one file with one row
group yields ONE scan task no matter what ``maxPartitionBytes`` says
(Spark assigns a row group to the single split holding its midpoint).
At 100 TB the scan supplies thousands of byte-balanced splits and this
helper is a no-op; on a small/badly-laid-out input it is the difference
between 1 busy core and all of them (BENCH r7: ``decontaminate_full``
ran 18.8 s at 1.1 busy cores on a 32-core host for exactly this
reason).

``spread_input(df, key)`` hash-repartitions to the session's default
parallelism IFF the DataFrame's physical plan contains no shuffle
Exchange (i.e. its parallelism is still the scan's — a broadcast
exchange only ships a small side and leaves it so) and the plan currently
yields fewer partitions than cores. The key column keeps the shuffle
deterministic under task retries (guide §2.5: never hash on rand());
a unique id column gives a uniform spread. Cost when it fires: one
narrow shuffle of the projected input — for corpora small enough to
arrive in fewer splits than cores, that is by construction a few MB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: a shuffle Exchange node in a physical-plan string; BroadcastExchange
#: and ReusedExchange do not match
_SHUFFLE_EXCHANGE = re.compile(r"\bExchange\b")


def _has_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s physical plan shuffles (raises if the plan
    cannot be inspected)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return _SHUFFLE_EXCHANGE.search(plan) is not None


def cluster_by(df: DataFrame, key: str, target: int | None = None
               ) -> DataFrame:
    """Hash-partition ``df`` by ``key`` with an EXPLICIT partition count
    (so AQE keeps the layout instead of coalescing a small exchange to
    one partition): every downstream aggregation, window, or join whose
    keys INCLUDE ``key`` then satisfies its required distribution and
    plans with ZERO further exchanges (guide §2.4 — two operations keyed
    the same way share one exchange; HashPartitioning on a subset of
    the clustering keys satisfies ClusteredDistribution).

    The economics for text operators: per-doc n-gram/shingle/token
    occurrence rows are 4–40× the size of the text they derive from, so
    shuffling the TEXT once by doc id and running every per-doc
    aggregation partition-locally moves far fewer bytes than letting
    each aggregation shuffle its occurrence rows — at any scale, not
    just the bench's. Partition count: max(defaultParallelism,
    spark.sql.shuffle.partitions, current partitions when cheaply
    knowable) — never fewer partitions than the input already has.
    """
    spark = df.sparkSession
    n = target
    if n is None:
        try:
            shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            shuffle_p = 0
        n = max(spark.sparkContext.defaultParallelism, shuffle_p)
        try:
            if not _has_shuffle(df):    # .rdd is safe: nothing to run
                n = max(n, df.rdd.getNumPartitions())
        except Exception:
            pass
    return df.repartition(n, F.col(key))


def spread_input(df: DataFrame, key: str | None = None,
                 target: int | None = None) -> DataFrame:
    """Repartition ``df`` to ``target`` (default: defaultParallelism)
    partitions when — and only when — its plan is scan-shaped (no
    shuffle Exchange anywhere, so downstream parallelism is the scan's;
    a broadcast join keeps it so) and the scan yields fewer partitions
    than that. Deterministic: hashes on ``key`` when given, else on
    every column (row-content hash).

    Safe to call on derived DataFrames: if the plan already contains a
    shuffle the function returns the input untouched *without*
    touching ``df.rdd`` (which, under AQE, would materialize upstream
    query stages just to count partitions).
    """
    try:
        if _has_shuffle(df):  # a shuffle already (re)distributes this data
            return df
    except Exception:         # plan not inspectable — change nothing
        return df
    sc = df.sparkSession.sparkContext
    if target is None:
        # same count rule as cluster_by: a spread side that later joins
        # a clustered side must come out co-partitioned, not trigger an
        # ENSURE_REQUIREMENTS re-exchange on the smaller count
        try:
            shuffle_p = int(df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions"))
        except Exception:
            shuffle_p = 0
        target = max(sc.defaultParallelism, shuffle_p)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= target:
        return df
    if key is not None and key in df.columns:
        return df.repartition(target, F.col(key))
    return df.repartition(target, F.xxhash64(F.struct(*df.columns)))
