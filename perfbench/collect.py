"""Collectors that read what the engine already reports, from outside.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written out when the run ends; self times derived from them.
- ``RssSampler``: peak resident memory of this process tree (the Spark
  driver's Python and JVM processes, Python workers), read from ``/proc``.
- ``progress_*``: ``StreamingQueryProgress`` (durationMs, stateOperators,
  sources).
- ``StatusStore``: per-node SQL metrics of finished executions from
  Spark's SQL status store (works with the UI off).
- ``epoch_of_files`` / ``commit_times``: the file source's checkpoint
  log and the commit log, to map each input file to the epoch that
  admitted it and the moment that epoch committed.

None of this adds code inside the engine package.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans.  ``enabled=False`` makes every call a no-op, so the
    untraced measurement runs the same code path."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()

    def _current(self) -> int | None:
        st = getattr(self._stack, "ids", None)
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        par = parent if parent is not None else self._current()
        st = getattr(self._stack, "ids", None)
        if st is None:
            st = self._stack.ids = []
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            st.pop()
            rec = {"id": sid, "name": name, "start": t0, "end": t1, "parent": par,
                   "run": self.run_id, **attrs}
            with self._lock:
                self.spans.append(rec)

    def self_times(self, spans: list[dict] | None = None) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        spans = self.spans if spans is None else spans
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def totals_by_name(self, spans: list[dict]) -> dict[str, tuple[float, float]]:
        """name -> (summed duration, summed self time) over ``spans``."""
        st = self.self_times(spans)
        out: dict[str, tuple[float, float]] = {}
        for s in spans:
            d, t = out.get(s["name"], (0.0, 0.0))
            out[s["name"]] = (d + s["end"] - s["start"], t + st[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants.  A
    disabled sampler starts no thread and reads nothing, so that untimed
    bookkeeping does not share the cores with an untraced run."""

    def __init__(self, period_s: float = 0.25, enabled: bool = True):
        self.period_s = period_s
        self.enabled = enabled
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        if not self.enabled:
            return
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def last_progress(query) -> dict:
    lp = query._jsq.lastProgress()
    return json.loads(lp.json()) if lp is not None else {}


def data_epochs(progress: list[dict]) -> list[dict]:
    return [p for p in progress if (p.get("numInputRows") or 0) > 0]


# Each reader returns None when no progress entry reported ``key``, so
# that a counter the engine does not report is not read as 0.


def sum_duration(progress: list[dict], key: str) -> float | None:
    vals = [d[key] for p in progress if key in (d := p.get("durationMs") or {})]
    return float(sum(vals)) if vals else None


def sum_state(progress: list[dict], key: str) -> float | None:
    vals = [s[key] for p in progress for s in p.get("stateOperators") or [] if key in s]
    return float(sum(v or 0 for v in vals)) if vals else None


def last_state(progress: list[dict], key: str) -> float | None:
    for p in reversed(progress):
        ops = [s for s in p.get("stateOperators") or [] if key in s]
        if ops:
            return float(sum(s[key] or 0 for s in ops))
    return None


# --------------------------------------------------------------------------
# SQL status store
# --------------------------------------------------------------------------

_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3, "min": 60e3,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value as a number: durations in ms, sizes
    in bytes, counts as counts.  Multi-task values read
    "total (min, med, max ...)\\n<total> (...)"; the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _UNITS[unit] if unit in _UNITS else v


class StatusStore:
    """Node metrics of the SQL executions that finished since it was made.

    The store is fed by the asynchronous listener bus, so every read
    first waits until the bus has delivered the events posted so far:
    the execution's start and end and all its task-end updates."""

    def __init__(self, spark):
        self._bus = spark._jsc.sc().listenerBus()
        self._ss = spark._jsparkSession.sharedState().statusStore()
        self._bus.waitUntilEmpty()
        self._seen = set(self._ids())

    def _ids(self) -> list[int]:
        it = self._ss.executionsList().iterator()
        out = []
        while it.hasNext():
            out.append(int(it.next().executionId()))
        return out

    def new_executions(self) -> list[list[tuple[str, str, float]]]:
        """One list of (node, metric, value) per new execution."""
        self._bus.waitUntilEmpty()
        fresh = [i for i in self._ids() if i not in self._seen]
        self._seen.update(fresh)
        return [self.nodes(i) for i in sorted(fresh)]

    def nodes(self, eid: int) -> list[tuple[str, str, float]]:
        vals = self._ss.executionMetrics(eid)
        out = []
        it = self._ss.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                opt = vals.get(m.accumulatorId())
                if not opt.isDefined() or m.metricType() == "average":
                    continue
                v = parse_metric(str(opt.get()))
                if v is not None:
                    out.append((node.name().strip(), m.name(), v))
        return out


def plan_metrics(plan) -> list[tuple[str, str, float]]:
    """(node, metric, value) for every node of an executed physical plan,
    read from its live SQL metrics."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out.append((name, kv._1(), float(kv._2().value())))
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return out


def metric_sum(execs: list[list[tuple[str, str, float]]], node_prefix: str,
               metric: str) -> float | None:
    """The metric summed over matching nodes; None when no node reported
    it, so that a label the engine does not use is not read as 0."""
    vals = [v for ex in execs for n, m, v in ex if n.startswith(node_prefix) and m == metric]
    return float(sum(vals)) if vals else None


# --------------------------------------------------------------------------
# checkpoint logs
# --------------------------------------------------------------------------


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return [line.strip() for line in f if line.strip().startswith("{")]


def epoch_of_files(ck: str) -> dict[str, int]:
    """basename of each input file -> the query batch that admitted it.

    The file source numbers its own log (``sources/0/<n>``, compacted
    every few entries into ``<n>.compact``) independently of the query:
    a no-data batch, run when only the watermark moved, advances the
    query's batch id but not the source's.  The query's offset log
    (``offsets/<batchId>``) records the source log offset each batch
    read up to; a file belongs to the first batch that reached its
    source offset."""
    src = os.path.join(ck, "sources", "0")
    off = os.path.join(ck, "offsets")
    if not (os.path.isdir(src) and os.path.isdir(off)):
        return {}
    log_of: dict[str, int] = {}
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        for line in _log_lines(os.path.join(src, name)):
            e = json.loads(line)
            log_of[os.path.basename(e["path"])] = int(e["batchId"])
    first_batch: dict[int, int] = {}
    prev = -1
    for b in sorted(int(n) for n in os.listdir(off) if n.isdigit()):
        lines = _log_lines(os.path.join(off, str(b)))
        if len(lines) < 2:
            continue
        reached = int(json.loads(lines[1])["logOffset"])
        for n in range(prev + 1, reached + 1):
            first_batch.setdefault(n, b)
        prev = max(prev, reached)
    return {f: first_batch[n] for f, n in log_of.items() if n in first_batch}


def commit_times(commit_dir: str) -> dict[int, float]:
    """batchId -> mtime of its commit log entry."""
    out: dict[int, float] = {}
    if not os.path.isdir(commit_dir):
        return out
    for name in os.listdir(commit_dir):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(commit_dir, name)).st_mtime
    return out


def file_latencies(
    scheduled: dict[str, float], epoch_of: dict[str, int], committed: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Latency of each published file from its scheduled publish time to
    the commit of the epoch that admitted it; plus the files never
    committed."""
    lat, missing = {}, []
    for name, t in scheduled.items():
        b = epoch_of.get(name)
        if b is None or b not in committed:
            missing.append(name)
        else:
            lat[name] = committed[b] - t
    return lat, missing
