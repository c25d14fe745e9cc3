"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository.  The Spark side runs
in a child process (``child.py``) started in its own session with the
repository on ``PYTHONPATH`` (the Python workers import the package
too), Spark's scratch space, temp files and, for ``--trace 1``, the
event log inside ``.perfbench/`` of the checkout.  This process samples
the resident memory of the child's process tree, stops whatever the
child leaves running, and prints one JSON object as the last line of
its standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest")
CHILD_TIMEOUT_S = 170
HEAP = "1g"


def _proc_stat(pid: str):
    """(ppid, pgid) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return int(fields[1]), int(fields[2])
    except (OSError, IndexError, ValueError):
        return None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list:
    children = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st:
                children.setdefault(st[0], []).append(int(pid))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _group(pgid: int) -> list:
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st and st[1] == pgid:
                out.append(int(pid))
    return out


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the child's process group and wait
    until every member has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while _group(pgid) and time.time() < deadline:
            time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak of the summed VmRSS over the child's process tree (driver,
    JVM and Python workers), sampled every 100 ms.

    A process counts from its second sample on: a child caught between
    fork and exec reports its parent's whole RSS."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.done = threading.Event()

    def run(self) -> None:
        seen = set()
        while not self.done.is_set():
            tree = set(_tree(self.pid))
            kb = sum(_rss_kb(p) for p in tree & seen)
            self.peak_kb = max(self.peak_kb, kb)
            seen = tree
            self.done.wait(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "go_whisper_spark", "__init__.py")):
        print(f"perfbench: no go_whisper_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(state, "traces")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(traces, exist_ok=True)

    submit = [
        # A fixed-size heap: with a growable one, peak RSS of the same
        # workload ranged 1.7-3.3 GB from run to run.
        "--driver-java-options", f"-Xms{HEAP} -Djava.io.tmpdir={work}/tmp",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
    ]
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false",
                   "--conf", f"spark.eventLog.dir=file://{work}/eventlog"]
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        # no /tmp/hsperfdata_* file from the launcher or the driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONHASHSEED": "0",
    })
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work,
        "--trace-out", os.path.join(traces, f"{args.workload}-{args.seed}.json"),
    ]
    child = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    sampler = RssSampler(child.pid)
    sampler.start()
    timer = threading.Timer(CHILD_TIMEOUT_S, lambda: os.killpg(child.pid, signal.SIGKILL))
    timer.start()
    last = None
    try:
        for line in child.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = child.wait()
    finally:
        timer.cancel()
        sampler.done.set()
        sampler.join()
        _stop_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)

    try:
        result = json.loads(last) if rc == 0 and last else None
    except json.JSONDecodeError:
        result = None
    if result is None:
        if last:
            print(last)
        print(f"perfbench: run failed (exit code {rc})", file=sys.stderr)
        return 1
    metrics = result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": sampler.peak_kb / 1024.0, "unit": "MB"}
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
