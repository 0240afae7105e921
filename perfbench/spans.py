"""Spans, process memory sampling and Spark SQL metrics for the benchmark.

Spans are kept in memory and written as JSON when the run ends. Counts and
per-operator times come from Spark's own SQL status store, read after the
executions they describe have finished.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.seconds = 0.0

    def __enter__(self):
        t = self.tracer
        self.idx = len(t.spans)
        t.spans.append({
            "id": self.idx, "name": self.name, "run_id": t.run_id,
            "parent": t._stack[-1] if t._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        rec = t.spans[self.idx]
        rec["end"] = time.perf_counter()
        self.seconds = rec["end"] - rec["start"]
        return False


# ------------------------------------------------------------ memory


def descendant_pids(root_pid: int) -> list[int]:
    """Every process below root_pid: the JVM, its Python worker daemon and
    the workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendant_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants on a thread and
    keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ------------------------------------------------------ SQL status store

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def _parse_metric(text: str) -> float:
    """A status-store metric string as a number in bytes, seconds or units.

    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)';
    plain ones read '<value> [unit]'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Reads node metrics of finished SQL executions from the status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        ex = self.store.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def _finished(self, after_id: int, timeout_s: float = 10.0) -> list[int]:
        """Ids above after_id, once the listener bus has recorded the end of
        each (their final metrics are aggregated then)."""
        deadline = time.monotonic() + timeout_s
        while True:
            ex = self.store.executionsList()
            done, ids = True, []
            for i in range(ex.size()):
                e = ex.apply(i)
                if e.executionId() > after_id:
                    ids.append(e.executionId())
                    done &= e.completionTime().isDefined()
            if done or time.monotonic() > deadline:
                return ids
            time.sleep(0.05)

    def nodes(self, after_id: int) -> list[tuple[str, dict[str, float]]]:
        """(node name, {metric name: value}) for every plan node of every
        execution with an id above after_id."""
        out = []
        for eid in self._finished(after_id):
            vals = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                metrics = {}
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = _parse_metric(v.get())
                out.append((node.name(), metrics))
        return out


def layer_counts(nodes: list[tuple[str, dict[str, float]]]) -> dict[str, float]:
    """Exchange, broadcast and Python-boundary totals over the given nodes.
    Python times are summed over tasks, not wall time."""
    c = {
        "exchange.shuffle_bytes": 0.0,
        "exchange.broadcast_bytes": 0.0,
        "exchange.broadcast_collect_s": 0.0,
        "arrow.python_s": 0.0,
        "arrow.worker_start_s": 0.0,
        "arrow.bytes_to_python": 0.0,
        "arrow.bytes_from_python": 0.0,
    }
    for name, m in nodes:
        if name == "Exchange":
            c["exchange.shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
        elif name == "BroadcastExchange":
            c["exchange.broadcast_bytes"] += m.get("data size", 0.0)
            c["exchange.broadcast_collect_s"] += m.get("time to collect", 0.0)
        if "data sent to Python workers" in m:
            c["arrow.python_s"] += m.get("time to run Python workers", 0.0)
            c["arrow.worker_start_s"] += (
                m.get("time to start Python workers", 0.0)
                + m.get("time to initialize Python workers", 0.0)
            )
            c["arrow.bytes_to_python"] += m["data sent to Python workers"]
            c["arrow.bytes_from_python"] += m.get("data returned from Python workers", 0.0)
    return c
