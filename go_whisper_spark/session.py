"""SparkSession factory tuned for the whisper engine.

Local testing runs ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE on (skew joins,
runtime coalescing), shuffle partitions sized to cores, UTC session
timezone (whisper is calendar-free integer-seconds math), Arrow enabled
for the Pandas-UDF slow path.

``session_memo`` is the one place session-scoped state lives: built
plans, persisted serving substrates and small control-plane metadata,
never query results.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries each memo kind holds before the oldest is evicted.
_MEMO_MAX = 256
# kind -> {(applicationId, key): value}, insertion-ordered.
_MEMOS: dict = {}


def get_spark(app_name: str = "go_whisper_spark", cpus: "int | None" = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    # Shuffle partitions (r19 optimization round, guide §2.2):
    # parameterised via SPARK_GRAFT_SHUFFLE_PARTITIONS so a
    # deployment sizes it to its cluster (2-3x total cores, or rely
    # on AQE initialPartitionNum); the local default stays 8 — the
    # r19 full-bench A/B (same host, back-to-back) measured the
    # cores-derived default (32) LOSING 5.7% on the 66-query
    # headline (91.6 s vs 86.7 s): post-shuffle data is MB-scale
    # here, so extra partitions are pure scheduling overhead, and
    # the one stage that genuinely needed full-core parallelism
    # (the 41M-row wedge join) now gets it from the serve
    # substrate's explicit cores-derived partitioning instead
    # (whisper_queries.tri_substrate_cached).  OPTIMIZATION_r19.md
    # has the per-query table.
    shuffle_parts = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0") or 0
    ) or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def session_memo(spark, kind: str, key, build):
    """``build()`` at most once per (session, kind, key).

    Entries are keyed by the context's applicationId: objects bound to
    a stopped context (DataFrames, Columns, broadcasts) must never reach
    a later session, so every call first drops every other application's
    entries, across all kinds.  Each kind keeps at most ``_MEMO_MAX``
    entries and evicts the oldest first.  A ``build`` that raises stores
    nothing."""
    app_id = spark.sparkContext.applicationId
    for memo in _MEMOS.values():
        for k in [k for k in memo if k[0] != app_id]:
            del memo[k]
    memo = _MEMOS.setdefault(kind, {})
    full_key = (app_id, key)
    if full_key in memo:
        return memo[full_key]
    value = build()
    if len(memo) >= _MEMO_MAX:
        del memo[next(iter(memo))]
    memo[full_key] = value
    return value
