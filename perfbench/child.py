"""Spark side of one benchmark run; ``run.py`` starts it with the
environment the session needs and reads its last stdout line.

Phases: set-up (repeated ``SETUP_REPS`` times, each a fresh session,
fresh inputs and a warm-up; the first also launches the JVM and imports
the package, so ``setup_s`` is the median of the others), the timed closed
loop with one client, the untimed output gate, and, in a traced run,
the per-layer report built from spans and the Spark event log.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from common import Op, median, samples_beyond, start_session, stop_session, tail_of
from tracing import Tracer

SETUP_REPS = 3  # repetition 0 boots the JVM and is left out of setup_s
# end-to-end metrics of the JSON result; run.py adds peak_rss_mb
E2E_UNITS = [("setup_s", "s"), ("ops_per_s", "1/s"), ("read_p50_ms", "ms"),
             ("read_tail_ms", "ms")]
# every printed end-to-end number, including those of one workload only
REPORT_UNITS = dict(E2E_UNITS, error_rate="ratio", write_p50_ms="ms", write_tail_ms="ms",
                    ingest_points_per_s="1/s", storage_amplification="ratio")


def timed_loop(wl, tracer, seconds: float) -> tuple:
    ops = []
    stream = wl.stream()
    sc = wl.spark.sparkContext
    t_start = time.time()
    deadline = t_start + seconds
    kind, arg = next(stream)
    # Past the deadline, a workload with cycles finishes the one in progress;
    # a finite stream may also end the loop before the deadline.
    while kind is not None and (
            time.time() < deadline or (wl.cycle_start and kind != wl.cycle_start)):
        op = Op(f"op{len(ops)}", kind, 0.0)
        op.extra["arg"] = arg
        op.extra["check"] = wl.check_key(kind, arg)
        if tracer.enabled:
            sc.setJobGroup(op.op_id, kind)
            tracer.op_id = op.op_id
        op.t0 = time.time()
        try:
            with tracer.span(f"op.{kind}", "bench"):
                wl.execute(kind, arg, op)
        except Exception as exc:  # a failed op is counted, the loop goes on
            op.ok = False
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        op.t1 = time.time()
        ops.append(op)
        if tracer.enabled:
            tracer.op_id = "between"
            sc.setJobGroup("between", "between")
            wl.after_op(op)
        kind, arg = next(stream, (None, None))
    return ops, ops[-1].t1 - t_start if ops else seconds


def latency(ops, kinds, pct):
    xs = [o.ms for o in ops if o.ok and o.kind in kinds]
    if not xs:
        return None, None, 0
    return median(xs), tail_of(xs, pct), len(xs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out", required=True)
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace))
    tracer.install()

    from dashboard import Dashboard
    from ingest import Ingest

    wl_cls = {"dashboard": Dashboard, "ingest": Ingest}[args.workload]
    wl = wl_cls(args.seed, args.work, tracer)
    t_boot = time.time()
    setup_s, spark, session_ms = [], None, []
    for rep in range(SETUP_REPS):
        t0 = time.time()
        if spark is not None:
            spark.stop()
        t1 = time.time()
        spark = start_session()
        session_ms.append((time.time() - t1) * 1e3)
        wl.setup(spark, rep)
        setup_s.append(time.time() - (t_boot if rep == 0 else t0))
    boot_s, setup_s = setup_s[0], setup_s[1:]
    print(f"inputs fingerprint: {args.workload} seed={args.seed} {wl.fp}", flush=True)

    tracer.op_id = "timed"
    ops, wall = timed_loop(wl, tracer, args.seconds)

    t_gate = time.time()
    tracer.op_id = "gate"
    if tracer.enabled:
        spark.sparkContext.setJobGroup("gate", "gate")
    gate = wl.gate(ops)
    t_gate = time.time() - t_gate
    bad = {k for k, ok in gate["checks"].items() if not ok}
    failed = [o for o in ops if not o.ok or o.extra["check"] in bad]
    correct = not failed and gate["negative_control"]

    read_kinds = {"render", "gquery", "fetch_engine", "fetch_rollups", "read"}
    r50, rtail, nread = latency(ops, read_kinds, wl.tail_pct)
    w50, wtail, nwrite = latency(ops, {"write"}, wl.tail_pct)
    done = sum(o.ok for o in ops)
    report = {
        "setup_s": median(setup_s),
        "ops_per_s": done / wall,
        "read_p50_ms": r50,
        "read_tail_ms": rtail,
        "error_rate": len(failed) / len(ops),
        "write_p50_ms": w50,
        "write_tail_ms": wtail,
    }
    extra_lines = [
        f"ops: {len(ops)} attempted, {len(failed)} failed, {nread} reads, "
        f"{nwrite} writes over {wall:.2f} s",
        f"tail percentile: p{wl.tail_pct:g}, {samples_beyond(nread, wl.tail_pct)} reads beyond it",
        f"setup reps (s): boot {boot_s:.3f} (not in setup_s), "
        f"{', '.join(f'{x:.3f}' for x in setup_s)}",
        f"gate: {sum(gate['checks'].values())}/{len(gate['checks'])} checks ok, "
        f"negative control {'caught' if gate['negative_control'] else 'MISSED'}, {t_gate:.1f} s",
    ]
    for kind in sorted({o.kind for o in ops}):
        xs = [o.ms for o in ops if o.kind == kind and o.ok]
        if xs:
            extra_lines.append(f"  {kind}: n={len(xs)} median={median(xs):.1f} ms "
                               f"max={max(xs):.1f} ms")
    for o in ops:
        if not o.ok:
            extra_lines.append(f"failed {o.op_id} {o.kind}: {o.error}")
    for k in sorted(bad, key=repr):
        extra_lines.append(f"gate mismatch: {k}")
    if args.workload == "ingest":
        st = wl.storage()
        points = sum(o.extra.get("points", 0) for o in ops if o.ok and o.kind == "write")
        report["ingest_points_per_s"] = points / wall
        report["storage_amplification"] = st["total"] / st["input"]
        extra_lines.append(f"storage bytes: {st}")
    else:
        distinct = len({o.extra["arg"] for o in ops if o.kind == "render"})
        extra_lines.append(f"distinct render targets: {distinct} (memo bound 256)")

    layers = None
    if tracer.enabled:
        stop_session(spark)
        spark = None
        from layers import per_layer

        layers, trace_doc = per_layer(wl, ops, tracer, args, session_ms, report)
        with open(args.trace_out, "w", encoding="utf-8") as fh:
            json.dump(trace_doc, fh, indent=1, default=str)
        extra_lines.append(f"trace written: {args.trace_out}")
    else:
        stop_session(spark)

    for line in extra_lines:
        print(line)
    for k, v in report.items():
        if v is not None:
            print(f"{k}: {v} {REPORT_UNITS[k]}")
    if layers is not None:
        from layers import LAYER_METRICS

        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS}
    else:
        metrics = {k: {"value": report[k] or 0.0, "unit": u} for k, u in E2E_UNITS}
        correct = correct and all(report[k] for k, _ in E2E_UNITS)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
