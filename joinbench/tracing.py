"""Spans and Spark plan counts for the traced run.

Spans are recorded from the benchmark's side, around each call into the
package and around each staged action; they stay in memory and are
written as one JSON file when the run ends.  Plan counts are read from
Spark's SQL status store after each action.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")
# Milliseconds an op loses per millisecond of steal summed over all
# CPUs.  Fits of op wall time against that steal, on the 4-vCPU machine
# the benchmark was built on, gave 0.65 (50 nearby and 30 enrich ops),
# 1.1 (44 nearby ops in a quiet window) and about 0.6 under heavy steal:
# the op's threads wait on each other, so a stall on one CPU holds up
# the rest, and one CPU's share (0.25) undercounts it.  0.5 stays below
# every fit, so a timing is never credited with more than it lost.
STEAL_WEIGHT = 0.5


def cpu_ms() -> tuple[float, float]:
    """(busy, steal) CPU milliseconds of the whole machine so far, from
    /proc/stat: busy is user + nice + system + irq + softirq time over
    all CPUs; steal is time the hypervisor gave this machine's CPUs to
    something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return (v[0] + v[1] + v[2] + v[5] + v[6]) * 1e3 / _HZ, steal * 1e3 / _HZ


def tree_cpu_ms(root: int) -> float:
    """CPU milliseconds (user + system, reaped children included) used
    so far by process root and every process below it, from
    /proc/<pid>/stat: the driver, the Spark JVM and its Python workers.
    The kernel leaves steal out of a process's CPU time."""
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # fields after "pid (comm) ": state, ppid, ...; utime, stime,
        # cutime and cstime are the 14th to 17th fields
        f = s[s.rindex(")") + 2:].split()
        pid = int(d)
        parent[pid] = int(f[1])
        used[pid] = sum(int(x) for x in f[11:15])
    children: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        children.setdefault(pp, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * 1e3 / _HZ


def clock() -> float:
    """Seconds of wall time minus STEAL_WEIGHT times the CPU time stolen
    from this machine.  On a shared virtual machine, steal comes in
    bursts of tens of seconds that stretch every op, and a timing net of
    it is steadier from run to run."""
    return time.perf_counter() - STEAL_WEIGHT * cpu_ms()[1] / 1e3


class Tracer:
    """In-memory spans: (name, start, end, parent, op).  Disabled
    tracers record nothing and cost one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": clock(), "end": None,
               "counts": dict(counts)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = clock()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name, total duration minus the part of it that its
        child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []),
                            key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), c["end"]
                if hi > lo:
                    covered += hi - lo
                    last = hi
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_ms": self.self_times_ms(), **extra}, f,
                      indent=1)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4,
          "h": 3.6e6}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: bytes for sizes,
    milliseconds for timings, the count for sums.  Aggregated values
    read 'total (min, med, max ...)\\n<total> (...)'."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


_ENTRY = re.compile(r"(?:^[A-Za-z]*Map\(|, )(\d+) -> ")


def _metric_map(jmap) -> dict[int, str]:
    """The status store's Map[Long, String] of accumulator id -> value,
    from its string form (py4j passes small ints as Integer, which never
    equals a Long key, so the map cannot be probed directly)."""
    text = jmap.toString()
    if text.endswith(")"):
        text = text[:-1]
    parts = _ENTRY.split(text)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


# (plan node name prefix, metric name) -> counter name
_WANTED = {
    ("Scan parquet", "size of files read"): "scan_bytes",
    ("Exchange", "shuffle bytes written"): "shuffle_bytes",
    ("ArrowEvalPython", "number of output rows"): "python_udf_rows",
    ("ArrowEvalPython", "time to run Python workers"): "python_udf_ms",
    ("BroadcastHashJoin", "number of output rows"): "join_rows",
}


class PlanCounts:
    """Sums selected plan-node metrics over the SQL executions that
    started after `mark()`."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last = self._max_id()

    def _executions(self):
        lst = self._store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def _max_id(self) -> int:
        ids = [e.executionId() for e in self._executions()]
        return max(ids) if ids else -1

    def mark(self) -> None:
        self._last = self._max_id()

    def collect(self, timeout_s: float = 10.0) -> dict[str, float]:
        """Counts of the executions since the last mark (waits until the
        listener has recorded their completion), then marks."""
        deadline = time.time() + timeout_s
        while True:
            new = [e for e in self._executions()
                   if e.executionId() > self._last]
            if all(e.completionTime().isDefined() for e in new) or \
                    time.time() > deadline:
                break
            time.sleep(0.05)
        out = {v: 0.0 for v in _WANTED.values()}
        out["executions"] = float(len(new))
        out["scans"] = 0.0
        for e in new:
            eid = e.executionId()
            values = _metric_map(self._store.executionMetrics(eid))
            nodes = self._store.planGraph(eid).allNodes()
            scanned = False
            for i in range(nodes.size()):
                node = nodes.apply(i)
                name = node.name()
                scanned |= name.startswith("Scan parquet")
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    for (prefix, metric), key in _WANTED.items():
                        if name.startswith(prefix) and m.name() == metric:
                            out[key] += parse_metric(
                                values.get(m.accumulatorId(), ""))
            out["scans"] += float(scanned)
        if new:
            self._last = max(e.executionId() for e in new)
        return out
