"""What the benchmark observes from outside the program: spans around its
own calls, process-tree memory from /proc, the Spark stderr log, and
Spark's event log folded into per-execution task metrics."""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        # the command name may hold spaces; fields after it are fixed
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Spans:
    """Spans in memory: name, start and end (epoch seconds), parent.

    Disabled, it only runs the body, so a timed run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.done: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.done), "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.done.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def last(self, name: str) -> dict:
        return [s for s in self.done if s["name"] == name][-1]

    def within(self, name: str, execs) -> list[dict]:
        """Executions that started inside the last span called `name`."""
        s = self.last(name)
        return [ex for ex in execs if s["start"] <= ex["start"] <= s["end"]]

    def innermost_at(self, t: float) -> str | None:
        """The deepest span open at epoch second `t` (log timestamps are
        truncated to whole seconds, so a span covers [floor(start), end])."""
        hits = [s for s in self.done
                if int(s["start"]) <= t <= (s["end"] or time.time())]
        return max(hits, key=lambda s: s["start"])["name"] if hits else None


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak process-tree RSS, sampled four times a second in a thread."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class StderrCapture:
    """Send fd 2 (this process and the JVM it starts) to a file, so the
    Spark log can be counted; the text is copied back to stderr on exit."""

    def __init__(self, path: Path):
        self.path = path
        self.text = ""

    def __enter__(self):
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(self.path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, *exc):
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self.text = self.path.read_text(errors="replace")
        sys.stderr.write(self.text)
        sys.stderr.flush()


_ERROR_LINE = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d) ERROR ")


def error_lines(text: str) -> list[tuple[float, str]]:
    """(epoch second, line) of every log4j ERROR line."""
    out = []
    for line in text.splitlines():
        m = _ERROR_LINE.match(line)
        if m:
            t = time.mktime(time.strptime(m.group(1), "%y/%m/%d %H:%M:%S"))
            out.append((t, line))
    return out


# ---------------------------------------------------------------- event log

_OUT_DIR = re.compile(
    r"InsertIntoHadoopFsRelationCommand\s*\n(?:Input[^\n]*\n)?Arguments: (?:file:)?([^,\s]+)"
)


def read_events(event_dir: Path) -> list[dict]:
    events = []
    for f in sorted(event_dir.rglob("events_*")):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_events(events: list[dict]) -> dict[int, dict]:
    """SQL executions, each with its output directory, job groups and the
    metrics of every task it ran, grouped by Spark stage."""
    execs: dict[int, dict] = {}
    stage_exec: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            m = _OUT_DIR.search(e.get("physicalPlanDescription", ""))
            execs[e["executionId"]] = {
                "start": e["time"] / 1000, "end": None,
                "out": Path(m.group(1)).name if m else None,
                "groups": set(), "stages": {},
            }
        elif kind.endswith("SQLExecutionEnd"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"] / 1000
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            if eid is not None and int(eid) in execs:
                ex = execs[int(eid)]
                if props.get("spark.jobGroup.id"):
                    ex["groups"].add(props["spark.jobGroup.id"])
                for sid in e["Stage IDs"]:
                    stage_exec[sid] = int(eid)
        elif kind == "SparkListenerTaskEnd":
            eid = stage_exec.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if eid is None or not tm:
                continue
            sr = tm["Shuffle Read Metrics"]
            execs[eid]["stages"].setdefault(e["Stage ID"], []).append({
                "run_s": tm["Executor Run Time"] / 1000,
                "cpu_s": tm["Executor CPU Time"] / 1e9,
                "gc_s": tm["JVM GC Time"] / 1000,
                "shuffle_read_bytes": sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                "shuffle_write_bytes": tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                "spill_bytes": tm["Disk Bytes Spilled"],
                "input_bytes": tm["Input Metrics"]["Bytes Read"],
                "input_records": tm["Input Metrics"]["Records Read"],
            })
    return execs


def layer_metrics(execs: list[dict]) -> dict:
    """Task totals over a layer's executions.  `skew` is max/median task
    time in the layer's largest stage (by total task time)."""
    stages = [ts for ex in execs for ts in ex["stages"].values()]
    tasks = [t for ts in stages for t in ts]
    out = {k: sum(t[k] for t in tasks) for k in (
        "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    out["task_s"] = sum(t["run_s"] for t in tasks)
    out["tasks"] = len(tasks)
    out["skew"] = 1.0
    if stages:
        big = max(stages, key=lambda ts: sum(t["run_s"] for t in ts))
        times = [t["run_s"] for t in big]
        out["skew"] = max(times) / max(statistics.median(times), 0.001)
    starts = [ex["start"] for ex in execs]
    ends = [ex["end"] for ex in execs if ex["end"] is not None]
    out["exec_wall_s"] = (max(ends) - min(starts)) if starts and ends else 0.0
    return out


def scan_stage(execs: list[dict]) -> list[dict]:
    """Tasks of the stage that read the input files."""
    for ex in execs:
        for ts in ex["stages"].values():
            if any(t["input_bytes"] for t in ts):
                return ts
    return []
