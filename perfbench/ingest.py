"""``ingest``: batched writes through the lakehouse rollup transaction,
with range reads of the rolled-up levels between batches.

Each write op is one ``lakehouse.incremental_rollup_tx`` over a point
batch in the engine's points schema; every ``MAINTAIN_EVERY``-th write
also runs ``compact_bronze`` and ``vacuum`` inside the same op, so the
compaction stall lands in that write's latency.
"""

from __future__ import annotations

import math
import os
import random

import numpy as np

from common import Op, consume, fingerprint

DEFS = "1m:2d,10m:7d,1h:30d"
XFF = 0.5
METRICS = [f"dc{d}.host{h:02d}.{m}" for d in range(2) for h in range(10)
           for m in ("cpu", "mem", "disk", "net", "load", "iops", "temp",
                     "fan", "conn", "qps")]
T0 = 1_709_251_200  # 2024-03-01T00:00:00Z
BATCH_SECONDS = 600
SAMPLE_SECONDS = 10
LATE_SHARE, REWRITE_SHARE, REJECT_SHARE = 0.03, 0.03, 0.01
MAINTAIN_EVERY = 4
READS_PER_WRITE = 14
PRELOAD = 1
# Batches generated in set-up for the timed loop: a cycle now takes 8-10 s,
# so a 22 s run uses 3 of them.
MAX_CYCLES = 24
READ_SPANS = {0: (10, 120, 60), 1: (1, 12, 3600), 2: (6, 48, 3600)}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Batches:
    """Seeded point batches with a global ``write_seq``.  Batch ``b``
    covers ``[T0 + b*600, T0 + (b+1)*600)`` and is written at that
    window's end; a few points are late, rewrite an earlier
    ``(metric, ts)``, or fall outside the retention bounds."""

    def __init__(self, seed: int, max_retention: int):
        self.rng = np.random.default_rng(seed)
        self.max_retention = max_retention
        self.seq = 0
        self.history = []  # (metric index, ts) arrays of earlier batches

    def make(self, b: int):
        import pandas as pd

        rng = self.rng
        start, now = T0 + b * BATCH_SECONDS, T0 + (b + 1) * BATCH_SECONDS
        steps = BATCH_SECONDS // SAMPLE_SECONDS
        mi = np.repeat(np.arange(len(METRICS)), steps)
        ts = np.tile(start + SAMPLE_SECONDS * np.arange(steps), len(METRICS))
        n = len(ts)
        n_late, n_rw, n_rej = (int(n * s) for s in (LATE_SHARE, REWRITE_SHARE, REJECT_SHARE))
        late_ts = now - rng.integers(86_400 // 10, 3 * 86_400 // 10, n_late) * 10
        pool_mi = np.concatenate([h[0] for h in self.history] + [mi])
        pool_ts = np.concatenate([h[1] for h in self.history] + [ts])
        pick = rng.integers(0, len(pool_ts), n_rw)
        half = n_rej // 2
        rej_ts = np.concatenate([
            now + rng.integers(1, 360, half) * 10,
            now - self.max_retention - rng.integers(360, 8_640, n_rej - half) * 10,
        ])
        all_mi = np.concatenate([mi, rng.integers(0, len(METRICS), n_late),
                                 pool_mi[pick], rng.integers(0, len(METRICS), n_rej)])
        all_ts = np.concatenate([ts, late_ts, pool_ts[pick], rej_ts])
        order = rng.permutation(len(all_ts))
        all_mi, all_ts = all_mi[order], all_ts[order]
        value = rng.integers(0, 1_000, len(all_ts)).astype(np.float64)
        seq = self.seq + np.arange(len(all_ts), dtype=np.int64)
        self.seq += len(all_ts)
        self.history.append((mi, ts))
        pdf = pd.DataFrame({
            "metric": np.array(METRICS)[all_mi],
            "ts": all_ts.astype(np.int64),
            "value": value,
            "write_seq": seq,
        })
        return now, pdf


def reference_levels(applied, config) -> dict:
    """From-scratch recompute of every archive level from the accepted
    points, each day at the ``now`` of the last batch that touched it
    (pandas; independent of the Spark engine)."""
    import pandas as pd

    maxret = config.max_retention
    parts, last_now = [], {}
    for now, pdf in applied:
        acc = pdf[(pdf.ts <= now) & (now - pdf.ts < maxret)]
        parts.append(acc)
        for d in np.unique(acc.ts.to_numpy() // 86_400):
            last_now[int(d)] = now
    acc = pd.concat(parts, ignore_index=True)
    acc["day"] = acc.ts // 86_400
    rets = config.retentions
    out = {i: [] for i in range(len(rets))}
    for day, now in sorted(last_now.items()):
        p = acc[(acc.day == day) & (acc.ts <= now) & (acc.ts > now - maxret)]
        p = p.assign(interval=p.ts - p.ts % rets[0].seconds_per_point)
        level = (p.sort_values("write_seq").groupby(["metric", "interval"]).tail(1)
                 [["metric", "interval", "value"]])
        for i, r in enumerate(rets):
            if i > 0:
                per_bucket = r.seconds_per_point // rets[i - 1].seconds_per_point
                g = (level.assign(interval=level.interval - level.interval % r.seconds_per_point)
                     .groupby(["metric", "interval"]).value.agg(["count", "sum"])
                     .reset_index())
                g = g[g["count"] / float(per_bucket) >= XFF]
                level = g.assign(value=g["sum"] / g["count"])[["metric", "interval", "value"]]
            keep = level[level.interval > now - r.retention]
            out[i].extend(zip(keep.metric, keep.interval.astype(int), keep.value))
    return {i: sorted(rows) for i, rows in out.items()}


def rows_close(got, want) -> bool:
    if len(got) != len(want):
        return False
    for (m1, i1, v1), (m2, i2, v2) in zip(got, want):
        if m1 != m2 or i1 != i2 or not math.isclose(v1, v2, rel_tol=1e-12, abs_tol=1e-9):
            return False
    return True


class Ingest:
    name = "ingest"
    tail_pct = 76.0
    cycle_start = "write"  # a cycle is one write and the reads after it

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def setup(self, spark, rep: int) -> None:
        import pandas as pd
        from go_whisper_spark import SeriesConfig

        self.spark = spark
        self.config = SeriesConfig.from_defs(DEFS, "average", XFF)
        self.base = os.path.join(self.work, f"rep{rep}", "store")
        os.makedirs(self.base)
        gen = Batches(self.seed, self.config.max_retention)
        self.batches = [gen.make(b) for b in range(PRELOAD + MAX_CYCLES)]
        self.fp = fingerprint(*(pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes()
                                for _, pdf in self.batches))
        self.applied = []
        self.writes = 0
        warm = Op("warm", "warm", 0.0)
        for _ in range(PRELOAD):
            self.write(warm)
        self.read(0, 3600, warm)

    def write(self, op: Op) -> None:
        from go_whisper_spark import lakehouse

        now, pdf = self.batches[len(self.applied)]
        self.applied.append((now, pdf))
        self.now = now
        accepted = int(((pdf.ts <= now) & (now - pdf.ts < self.config.max_retention)).sum())
        points = self.spark.createDataFrame(pdf, "metric string, ts long, value double, write_seq long")
        lakehouse.incremental_rollup_tx(self.spark, self.base, self.config, points, now)
        self.writes += 1
        if self.writes % MAINTAIN_EVERY == 0:
            lakehouse.compact_bronze(self.spark, self.base)
            lakehouse.vacuum(lakehouse.bronze_table(self.base), min_age_seconds=0)
            for i in range(len(self.config.retentions)):
                lakehouse.vacuum(lakehouse.table_path(self.base, i), min_age_seconds=0)
            op.extra["maintenance"] = True
        op.extra["points"] = accepted

    def read(self, level: int, span: int, op: Op) -> None:
        from go_whisper_spark import lakehouse

        hi = self.now
        df = lakehouse.read_table_range(
            self.spark, lakehouse.table_path(self.base, level), {"interval": (hi - span, hi)}
        )
        op.extra["rows"] = consume(df, self.tracer, op).num_rows
        op.extra["df"] = df

    def stream(self):
        """Write-and-reads cycles, one per generated batch; the run ends
        early if a faster program uses up all ``MAX_CYCLES``."""
        rng = random.Random(self.seed * 7919 + 29)
        for _ in range(MAX_CYCLES):
            yield "write", None
            for _ in range(READS_PER_WRITE):
                level = rng.randrange(len(self.config.retentions))
                lo, hi, unit = READ_SPANS[level]
                yield "read", (level, rng.randint(lo, hi) * unit)

    def execute(self, kind: str, arg, op: Op) -> None:
        if kind == "write":
            self.write(op)
        else:
            self.read(*arg, op)

    def after_op(self, op: Op) -> None:
        """Traced runs only, outside the op's wall time: bronze fan-in
        after each write and files behind each read."""
        from go_whisper_spark import lakehouse

        if op.kind == "write":
            st = lakehouse.CommitLog(lakehouse.bronze_table(self.base)).state()
            op.extra["bronze_dirs"] = len(set(st["partitions"].values()))
        df = op.extra.pop("df", None)
        if df is not None:
            op.extra["files_scanned"] = len(df.inputFiles())

    def check_key(self, kind: str, arg):
        return ("archives", "final")

    def storage(self) -> dict:
        """Bytes under the store, split into what the commit logs
        reference and what they no longer do, and the Arrow bytes of the
        batches written."""
        import pyarrow as pa
        from go_whisper_spark import lakehouse

        total = dir_bytes(self.base)
        live = 0
        tables = [lakehouse.bronze_table(self.base)] + [
            lakehouse.table_path(self.base, i) for i in range(len(self.config.retentions))
        ]
        for t in tables:
            live += dir_bytes(os.path.join(t, lakehouse.COMMIT_DIR))
            for d in set(lakehouse.CommitLog(t).state()["partitions"].values()):
                live += dir_bytes(d)
        batches = sum(pa.Table.from_pandas(pdf, preserve_index=False).nbytes
                      for _, pdf in self.applied)
        return {"total": total, "live": live, "garbage": max(total - live, 0),
                "input": batches}

    def gate(self, ops) -> dict:
        from go_whisper_spark import lakehouse

        want = reference_levels(self.applied, self.config)
        ok, negative = True, None
        for i in range(len(self.config.retentions)):
            df = lakehouse.read_table(self.spark, lakehouse.table_path(self.base, i))
            got = sorted((r["metric"], int(r["interval"]), r["value"])
                         for r in df.select("metric", "interval", "value").collect())
            ok = ok and rows_close(got, want[i])
            if negative is None and got:
                # Negative control: one changed value must fail the compare.
                bad = list(want[i])
                bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 1.0)
                negative = not rows_close(got, bad)
        return {"checks": {("archives", "final"): ok}, "negative_control": bool(negative)}
