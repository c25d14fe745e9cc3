"""Function spans and Spark job attribution for traced runs.

Tracing is off in the runs that give end-to-end numbers: no function is
wrapped and no event log is written.  In a traced run every public
function the benchmark drives is wrapped at its module (or class)
attribute, so each call becomes a span ``(op, id, parent, name, layer,
start, end)``.  Spark jobs are tied to ops through the job group the
runner sets per op, and their stages and tasks come from the event log
that ``run.py`` switches on through ``PYSPARK_SUBMIT_ARGS``.  Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, owner attribute or None, function attribute, span name, layer).
# Order matters: ``sources.tables.load_table`` is wrapped before any
# module that binds it with ``from ... import load_table`` is imported.
WRAPPED = [
    ("go_whisper_spark.session", None, "get_spark", "session.get_spark", "session"),
    ("go_whisper_spark.sources.tables", None, "load_table", "sources.load_table", "sources"),
    ("go_whisper_spark.render", None, "render", "render.render", "render"),
    ("go_whisper_spark.render", None, "parse_target", "render.parse", "render"),
    ("go_whisper_spark.render", None, "validate_target", "render.parse", "render"),
    ("go_whisper_spark.render", None, "build_frame", "render.build", "render"),
    ("go_whisper_spark.engine", "WhisperEngine", "archive_frame", "engine.archive_frame", "engine"),
    ("go_whisper_spark.engine", "WhisperEngine", "fetch", "engine.fetch", "engine"),
    ("go_whisper_spark.retention", None, "write_archives", "retention.write_archives", "retention"),
    ("go_whisper_spark.retention", "MaterializedRollups", "fetch", "retention.fetch", "retention"),
    ("go_whisper_spark.lakehouse", None, "incremental_rollup_tx", "lakehouse.rollup_tx", "lakehouse"),
    ("go_whisper_spark.lakehouse", "CommitLog", "commit", "lakehouse.commit", "lakehouse"),
    ("go_whisper_spark.lakehouse", "CommitLog", "try_commit", "lakehouse.try_commit", "lakehouse"),
    ("go_whisper_spark.lakehouse", None, "compact_bronze", "lakehouse.compact", "lakehouse"),
    ("go_whisper_spark.lakehouse", None, "vacuum", "lakehouse.vacuum", "lakehouse"),
    ("go_whisper_spark.lakehouse", None, "read_table_range", "lakehouse.read_range", "lakehouse"),
]


class Tracer:
    """Span recorder.  Disabled, it wraps nothing and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._next_id = 0
        self.op_id = "setup"

    def install(self) -> None:
        """Wrap every entry of ``WRAPPED``; importing the modules here
        happens before the operators and the registry are imported."""
        import importlib

        if not self.enabled:
            return
        for mod_name, owner_name, attr, name, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            setattr(owner, attr, self._wrap(getattr(owner, attr), name, layer))

    def _wrap(self, fn, name, layer):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "op": self.op_id, "id": sid, "parent": parent, "name": name,
                "layer": layer, "t0": t0, "t1": time.time(),
            })


def self_times(spans: list) -> list:
    """Each span's duration minus the union of its children's intervals
    (children nest inside their parent, so the union is a plain sum of
    non-overlapping intervals on one thread)."""
    child_ms = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] += (s["t1"] - s["t0"]) * 1e3
    return [
        dict(s, self_ms=(s["t1"] - s["t0"]) * 1e3 - child_ms[s["id"]])
        for s in spans
    ]


def union_ms(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _python_bytes(accumulables) -> int:
    n = 0
    for acc in accumulables or ():
        name = str(acc.get("Name", "")).lower()
        if "python" in name and "data" in name and "time" not in name:
            try:
                n += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return n


def parse_event_log(log_dir: str) -> dict:
    """Jobs (with group, interval and stages) and per-stage task sums
    from every application log in ``log_dir``."""
    jobs, stage_job, stages = {}, {}, defaultdict(lambda: defaultdict(float))
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(app, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = (app, ev["Job ID"])
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1e3,
                        "t1": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = jid
                elif kind == "SparkListenerJobEnd":
                    jid = (app, ev["Job ID"])
                    if jid in jobs:
                        jobs[jid]["t1"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    st = stages[(app, ev["Stage ID"])]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    ms = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["task_ms"] += ms
                    st["task_max_ms"] = max(st["task_max_ms"], ms)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    st["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                    st["python_bytes"] += _python_bytes(info.get("Accumulables"))
    for job in jobs.values():
        if job["t1"] is None:  # no end event: count the job as instantaneous
            job["t1"] = job["t0"]
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages}


STAGE_SUMS = (
    "tasks", "task_ms", "gc_ms", "scan_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_bytes", "output_bytes",
)


def spark_by_op(log: dict) -> dict:
    """Per job group (= op id): job count, job intervals and task sums."""
    out = defaultdict(lambda: {"jobs": 0, "intervals": [], "stages": 0,
                               "task_max_ms": 0.0, **{k: 0.0 for k in STAGE_SUMS}})
    for jid, job in log["jobs"].items():
        rec = out[job["group"]]
        rec["jobs"] += 1
        rec["intervals"].append((job["t0"], job["t1"]))
    for skey, st in log["stages"].items():
        jid = log["stage_job"].get(skey)
        if jid is None:
            continue
        rec = out[log["jobs"][jid]["group"]]
        rec["stages"] += 1
        rec["task_max_ms"] = max(rec["task_max_ms"], st["task_max_ms"])
        for k in STAGE_SUMS:
            rec[k] += st[k]
    return out


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
