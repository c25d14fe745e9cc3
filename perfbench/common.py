"""Pieces both workloads share: the session, the read action, op records,
latency statistics and the typed, order-insensitive result hash."""

from __future__ import annotations

import datetime
import hashlib
import math
import statistics
from dataclasses import dataclass, field

CPUS = 4


@dataclass
class Op:
    """One timed operation of the closed loop."""

    op_id: str
    kind: str
    t0: float
    t1: float = 0.0
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def start_session():
    from go_whisper_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def consume(df, tracer, op: Op):
    """The read action: deliver the result to the caller as Arrow.

    ``select('*')`` gives the action its own query execution, so a plan
    returned from a memo never reuses an earlier run's shuffle output.
    In a traced run the Catalyst phase times of that execution are kept.
    """
    q = df.select("*")
    with tracer.span("spark.action", "spark"):
        table = q.toArrow()
    if tracer.enabled:
        op.extra["catalyst"] = catalyst_phases(q)
    return table


def catalyst_phases(df) -> dict:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def tail_of(values, pct: float) -> float:
    """The ``pct`` percentile, linear between closest ranks."""
    if len(values) == 1:
        return float(values[0])
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, pct: float) -> int:
    return n - math.ceil(n * pct / 100.0)


def median(values) -> float:
    return float(statistics.median(values))


def typed_rows(columns, rows):
    """Normalize rows column-by-name with the repo's oracle-gate rules
    and sort them, so Spark and DuckDB results compare as multisets."""
    from tools.check_contract import norm_cell, sort_key

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=sort_key)
    return [columns[i] for i in order], out


def _naive_utc(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def typed_hash(columns, rows) -> str:
    cols, normed = typed_rows(columns, [tuple(_naive_utc(v) for v in r) for r in rows])
    h = hashlib.sha256(repr(cols).encode())
    for r in normed:
        h.update(repr(tuple((type(v).__name__, v) for v in r)).encode())
    return h.hexdigest()


def arrow_hash(table) -> str:
    cols = table.column_names
    return typed_hash(cols, list(zip(*(table.column(c).to_pylist() for c in cols))))


def spark_hash(df) -> str:
    return typed_hash(df.columns, [tuple(r) for r in df.collect()])


def duckdb_hash(con, sql: str) -> str:
    ddf = con.execute(sql).fetchdf()
    cols = ddf.columns.tolist()
    data = [ddf[c].tolist() for c in cols]
    return typed_hash(cols, list(zip(*data)) if cols else [])


def fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else repr(p).encode())
    return h.hexdigest()[:16]
