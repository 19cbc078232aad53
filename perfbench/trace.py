"""Measurement from outside the program: spans with Spark job groups,
Spark event-log roll-ups per layer, and the process-tree RSS sampler.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")
GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Spans around the benchmark's calls into each layer. When enabled,
    each span also sets a Spark job group `<name>#<span id>` so the
    event log attributes its jobs to the layer; disabled, `span` does
    nothing, which is the untraced configuration."""

    def __init__(self, sc, enabled: bool, run_id: str) -> None:
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setJobGroup(f"{name}#{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by children."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_len(kids[s["id"]], s["start"], s["end"])
            out[s["name"]] += s["end"] - s["start"] - covered
        return dict(out)


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Task-level roll-up of one Spark event log. Stages are attributed
    to the span whose job group submitted them; stages with no group
    (jobs started from a thread of the program's own) fall to the
    innermost span open at their submission."""

    def __init__(self, path: str, tracer: Tracer) -> None:
        self.tasks: list[dict] = []
        stage_group: dict[int, str | None] = {}
        stage_submit: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get(
                        GROUP_KEY)
                    stage_submit[sid] = (info.get("Submission Time")
                                         or 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000,
                        "finish": info["Finish Time"] / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_r_rec": sr.get("Total Records Read", 0),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                        "failed": bool(info.get("Failed"))
                        or reason not in (None, "Success"),
                    })
        spans = {s["id"]: s for s in tracer.spans}
        self.stage_layer: dict[int, str | None] = {}
        for sid, group in stage_group.items():
            if group and "#" in group:
                self.stage_layer[sid] = spans[int(group.rsplit("#", 1)[1])][
                    "name"]
            else:
                t = stage_submit[sid]
                open_ = [s for s in tracer.spans
                         if s["start"] <= t <= (s["end"] or t)]
                self.stage_layer[sid] = (
                    max(open_, key=lambda s: s["start"])["name"]
                    if open_ else None)

    def layer_tasks(self, layer: str) -> list[dict]:
        return [t for t in self.tasks
                if self.stage_layer.get(t["stage"]) == layer]

    def task_s(self, layer: str) -> float:
        return sum(t["run_s"] for t in self.layer_tasks(layer))

    def shuffle_mb(self, layer: str) -> float:
        return sum(t["shuffle_w"] for t in self.layer_tasks(layer)) / 1e6

    def skew(self, layer: str) -> float:
        """max/median rows read per task, on the layer's stage that
        reads the most shuffle records."""
        per_stage = defaultdict(list)
        for t in self.layer_tasks(layer):
            per_stage[t["stage"]].append(t["shuffle_r_rec"])
        if not per_stage:
            return 0.0
        rows = max(per_stage.values(), key=sum)
        med = statistics.median(rows)
        return max(rows) / med if med else float(max(rows) > 0)

    def idle_s(self, start: float, end: float) -> float:
        """Wall inside [start, end] with no task running."""
        busy = _union_len([(t["launch"], t["finish"]) for t in self.tasks],
                          start, end)
        return end - start - busy

    def tasks_failed(self) -> int:
        return sum(t["failed"] for t in self.tasks)

    def spill_mb(self) -> float:
        return sum(t["spill"] for t in self.tasks) / 1e6


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`, from /proc."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    the Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
