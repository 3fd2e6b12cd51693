"""Measurement helpers: process-tree memory sampling and Spark event-log
parsing per job group.

Everything here observes the program from outside: memory comes from
/proc, and per-layer Spark metrics come from the event log the session
writes when the benchmark enables it (``spark.eventLog.*``). Job groups
are set by the benchmark around its own calls into each layer.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` (the JVM and its Python workers)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled on a
    thread while the `with` block runs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "FlatMapGroupsInArrow", "MapInArrow", "FlatMapCoGroupsInPandas")


class GroupStats:
    """Task and SQL metrics summed over every job of one job group."""

    def __init__(self) -> None:
        self.stages: set[int] = set()
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.peak_exec_mem = 0
        # per Python plan node: (description, python-run ms, rows entering)
        self.python: list[tuple[str, int, int]] = []

    def python_rows(self, needle: str = "") -> int:
        """Rows entering the Python nodes whose description holds `needle`."""
        return sum(rows for desc, _, rows in self.python if needle in desc)

    def python_s(self, needle: str = "") -> float:
        """Python-worker seconds of those nodes, summed over tasks."""
        return sum(ms for desc, ms, _ in self.python if needle in desc) / 1000.0


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group statistics from a (finished) Spark event log."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, list[dict]] = defaultdict(list)
    acc_sum: dict[int, int] = defaultdict(int)
    task_ends: list[dict] = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = group
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = group
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(e)
                    for acc in e["Task Info"].get("Accumulables", []):
                        if acc.get("Metadata") == "sql":
                            acc_sum[acc["ID"]] += int(acc["Update"])
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    plans[e["executionId"]].append(e["sparkPlanInfo"])

    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for e in task_ends:
        group = stage_group.get(e["Stage ID"])
        if group is None:
            continue
        s = stats[group]
        m = e.get("Task Metrics") or {}
        s.stages.add(e["Stage ID"])
        s.tasks += 1
        s.run_ms += m.get("Executor Run Time", 0)
        s.cpu_ns += m.get("Executor CPU Time", 0)
        s.gc_ms += m.get("JVM GC Time", 0)
        s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        s.peak_exec_mem = max(s.peak_exec_mem, m.get("Peak Execution Memory", 0))

    def metric(node: dict, name: str) -> int | None:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return acc_sum.get(m["accumulatorId"], 0)
        return None

    def out_rows(node: dict) -> int:
        n = metric(node, "number of output rows")
        if n is not None:
            return n
        return sum(out_rows(c) for c in node.get("children", []))

    for eid, infos in plans.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        seen: set[int] = set()  # AQE re-plans repeat nodes; key on accumulator
        todo = list(infos)
        while todo:
            node = todo.pop()
            todo.extend(node.get("children", []))
            if not node["nodeName"].startswith(_PY_NODES):
                continue
            accs = tuple(m["accumulatorId"] for m in node.get("metrics", []))
            # a node AQE replanned away never ran: none of its metrics moved
            if not accs or accs[0] in seen or not any(acc_sum.get(a) for a in accs):
                continue
            seen.add(accs[0])
            stats[group].python.append(
                (
                    node.get("simpleString", ""),
                    metric(node, "time to run Python workers") or 0,
                    sum(out_rows(c) for c in node.get("children", [])),
                )
            )
    return dict(stats)
