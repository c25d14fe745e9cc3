"""Per-layer metrics of a traced run.

Sums over the timed ops are reported per timed op (a time in ms per op,
a count or a byte total per op), so a run that completes more ops does
not read as more work.  State at the end of the run (bronze fan-in,
live and garbage bytes) and set-up costs are reported as they are.
"""

from __future__ import annotations

import os
import statistics
from collections import Counter, defaultdict

from tracing import clip, parse_event_log, self_times, spark_by_op, union_ms

LAYER_METRICS = [
    ("session.start_ms", "ms"),
    ("sources.load_table.calls", "count"),
    ("sources.load_table.ms", "ms"),
    ("render.parse.ms", "ms"),
    ("render.build.ms", "ms"),
    ("render.memo.hits", "count"),
    ("render.memo.misses", "count"),
    ("render.memo.hit_ratio", "ratio"),
    ("operators.build.ms", "ms"),
    ("engine.fetch.build_ms", "ms"),
    ("engine.archive_frame.calls", "count"),
    ("retention.fetch.build_ms", "ms"),
    ("retention.write_archives.ms", "ms"),
    ("lakehouse.rollup_tx.ms", "ms"),
    ("lakehouse.commit.ms", "ms"),
    ("lakehouse.commits", "count"),
    ("lakehouse.commit.retries", "count"),
    ("lakehouse.bronze.dirs", "count"),
    ("lakehouse.compact.ms", "ms"),
    ("lakehouse.vacuum.ms", "ms"),
    ("lakehouse.bytes_written", "B"),
    ("lakehouse.live_bytes", "B"),
    ("lakehouse.garbage_bytes", "B"),
    ("lakehouse.read.files_scanned", "count"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.job_ms", "ms"),
    ("spark.driver_gap_ms", "ms"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_ms", "ms"),
    ("spark.task_max_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.scan_bytes", "B"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.python_bytes", "B"),
    ("spark.output_bytes", "B"),
    ("trace.span_coverage", "ratio"),
]

# span name -> per-layer metric fed by that span's whole duration: the
# fetch plan's build, archive cascade and parquet schema reads included
WHOLE_MS = {
    "engine.fetch": "engine.fetch.build_ms",
    "retention.fetch": "retention.fetch.build_ms",
}
# span name -> per-layer metric fed by that span's self time
SELF_MS = {
    "sources.load_table": "sources.load_table.ms",
    "render.parse": "render.parse.ms",
    "render.build": "render.build.ms",
    "operators.build": "operators.build.ms",
    "lakehouse.commit": "lakehouse.commit.ms",
    "lakehouse.try_commit": "lakehouse.commit.ms",
    "lakehouse.vacuum": "lakehouse.vacuum.ms",
}
SPARK_SUMS = {
    "spark.stages": "stages", "spark.tasks": "tasks", "spark.task_ms": "task_ms",
    "spark.gc_ms": "gc_ms", "spark.scan_bytes": "scan_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes", "spark.python_bytes": "python_bytes",
    "spark.output_bytes": "output_bytes",
}


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def per_layer(wl, ops, tracer, args, session_ms, report):
    """Returns ({metric: value}, trace document)."""
    spans = self_times(tracer.spans)
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    log = parse_event_log(os.path.join(args.work, "eventlog"))
    spark = spark_by_op(log)

    n = len(ops)
    total = Counter()
    calls = Counter()
    kinds = defaultdict(lambda: defaultdict(list))
    coverage_ok = 0
    op_rows = []
    for op in ops:
        mine = by_op.get(op.op_id, [])
        per = Counter()
        for s in mine:
            calls[s["name"]] += 1
            per[s["layer"]] += s["self_ms"]
            if s["name"] in SELF_MS:
                total[SELF_MS[s["name"]]] += s["self_ms"]
            if s["name"] in WHOLE_MS:
                total[WHOLE_MS[s["name"]]] += (s["t1"] - s["t0"]) * 1e3
        if op.kind == "render":
            names = {s["name"] for s in mine}
            total["render.memo.misses" if "render.build" in names else "render.memo.hits"] += 1
        sp = spark.get(op.op_id)
        jobs = clip(sp["intervals"], op.t0, op.t1) if sp else []
        job_ms = union_ms(jobs) * 1e3
        gap_ms = op.ms - job_ms
        total["spark.job_ms"] += job_ms
        total["spark.driver_gap_ms"] += gap_ms
        if sp:
            total["spark.jobs"] += sp["jobs"]
            for metric, key in SPARK_SUMS.items():
                total[metric] += sp[key]
            total["spark.task_max_ms"] = max(total["spark.task_max_ms"], sp["task_max_ms"])
        layer_ms = sum(v for k, v in per.items() if k != "bench")
        cov = layer_ms / op.ms if op.ms else 1.0
        coverage_ok += abs(1.0 - cov) <= 0.10
        cat = op.extra.get("catalyst") or {}
        for ph in ("analysis", "optimization", "planning"):
            total[f"catalyst.{ph}_ms"] += cat.get(ph, 0.0)
        total["lakehouse.read.files_scanned"] += op.extra.get("files_scanned", 0)
        k = kinds[op.kind]
        k["wall_ms"].append(op.ms)
        k["job_ms"].append(job_ms)
        k["driver_gap_ms"].append(gap_ms)
        k["jobs"].append(sp["jobs"] if sp else 0)
        for layer, ms in per.items():
            k[f"self_ms.{layer}"].append(ms)
        op_rows.append({
            "op": op.op_id, "kind": op.kind, "ok": op.ok, "wall_ms": op.ms,
            "job_ms": job_ms, "driver_gap_ms": gap_ms, "layer_self_ms": dict(per),
            "coverage": cov, **{x: v for x, v in op.extra.items()
                                if x in ("rows", "points", "maintenance", "bronze_dirs",
                                         "files_scanned", "catalyst")},
        })

    out = {name: 0.0 for name, _ in LAYER_METRICS}
    per_op_keys = set(SELF_MS.values()) | set(WHOLE_MS.values()) | set(SPARK_SUMS) | {
        "spark.jobs", "spark.job_ms", "spark.driver_gap_ms",
        "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    }
    for key in per_op_keys:
        out[key] = total[key] / n
    reads = [o for o in ops if o.kind == "read"]
    if reads:
        out["lakehouse.read.files_scanned"] = total["lakehouse.read.files_scanned"] / len(reads)
    out["spark.task_max_ms"] = total["spark.task_max_ms"]
    out["session.start_ms"] = statistics.median(session_ms[1:])  # as setup_s: without the JVM launch
    out["sources.load_table.calls"] = calls["sources.load_table"] / n
    out["engine.archive_frame.calls"] = calls["engine.archive_frame"] / n
    hits, misses = total["render.memo.hits"], total["render.memo.misses"]
    out["render.memo.hits"] = hits
    out["render.memo.misses"] = misses
    out["render.memo.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    setup_spans = [s for s in spans if s["op"] == "setup"]
    wa = [s["t1"] - s["t0"] for s in setup_spans if s["name"] == "retention.write_archives"]
    out["retention.write_archives.ms"] = wa[-1] * 1e3 if wa else 0.0

    writes = [o for o in ops if o.kind == "write"]
    rollup = [s["t1"] - s["t0"] for o in writes for s in by_op.get(o.op_id, [])
              if s["name"] == "lakehouse.rollup_tx"]
    out["lakehouse.rollup_tx.ms"] = _mean(rollup) * 1e3
    compact = [s["t1"] - s["t0"] for o in writes for s in by_op.get(o.op_id, [])
               if s["name"] == "lakehouse.compact"]
    out["lakehouse.compact.ms"] = _mean(compact) * 1e3
    out["lakehouse.commits"] = calls["lakehouse.commit"] / n
    out["lakehouse.commit.retries"] = max(
        calls["lakehouse.try_commit"] - calls["lakehouse.commit"], 0) / n
    bronze = [o.extra["bronze_dirs"] for o in writes if "bronze_dirs" in o.extra]
    out["lakehouse.bronze.dirs"] = max(bronze) if bronze else 0
    if writes:
        st = wl.storage()
        out["lakehouse.bytes_written"] = sum(
            spark[o.op_id]["output_bytes"] for o in writes if o.op_id in spark) / len(writes)
        out["lakehouse.live_bytes"] = st["live"]
        out["lakehouse.garbage_bytes"] = st["garbage"]
    out["trace.span_coverage"] = coverage_ok / n

    layer_calls = Counter()
    for o in ops:
        for s in by_op.get(o.op_id, []):
            layer_calls[s["layer"]] += 1
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "traced_end_to_end": report,
        "session_start_ms": session_ms,
        "per_layer": out,
        "layer_calls": dict(layer_calls),
        "bronze_dirs_after_each_write": [
            (o.extra.get("bronze_dirs"), bool(o.extra.get("maintenance"))) for o in writes
        ],
        "by_kind": {
            kind: {m: {"n": len(v), "mean": _mean(v), "median": statistics.median(v)}
                   for m, v in metrics.items()}
            for kind, metrics in kinds.items()
        },
        "ops": op_rows,
        "spans": tracer.spans,
    }
    return out, doc
