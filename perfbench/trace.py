"""Spans around layer calls, Spark status-store readers and peak RSS.

Everything here observes the program from outside: a span times one call
into a layer's public function and tags the Spark jobs it starts with its own
job group; the per-layer counters are then read from Spark's status stores
(``statusStore().jobsList/stageList`` for jobs and stages, the SQL status
store's ``planGraph``/``executionMetrics`` for the kernel's ``MapInArrow``
node) after the query, outside its timed region.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

LAYERS = (
    "session", "sources", "normalize", "triangles", "layout",
    "pagerank", "components", "ktruss", "cache",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"), ("executor_run_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("checkpoint_jobs", "count"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
)
KERNEL_METRICS = (
    ("python_run_s", "s"), ("python_start_s", "s"), ("arrow_bytes_in", "bytes"),
    ("arrow_bytes_out", "bytes"), ("probes", "count"), ("hits", "count"),
    ("hit_ratio", "ratio"), ("probes_per_s", "1/s"),
)
# SQL metric names of the MapInArrow node -> kernel metric
_KERNEL_SQL = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
}
_TOTAL = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("2.1 s", "142.5 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) in seconds / bytes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1.0)


def layer_metric_names() -> list[tuple[str, str]]:
    names = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    names += [(f"kernel.{m}", u) for m, u in KERNEL_METRICS]
    return names


class Tracer:
    """In-memory spans, one job group each. ``enabled=False`` makes ``span``
    a bare ``yield`` so untraced runs execute the same benchmark code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query_id: str | None = None
        self.phase = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "query": self.query_id, "phase": self.phase, "group": f"perfbench-{sid}",
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def mark(self, name: str, start: float, end: float) -> None:
        """Record a finished span that starts no jobs (session start)."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "name": name, "parent": None, "query": self.query_id,
                "phase": self.phase, "group": None, "start": start, "end": end,
            })

    def absorb(self, jobs: list[dict], stages: dict[int, dict]) -> None:
        """Attach jobs (and their stages) to the span whose group started
        them — the innermost open span, so counters are exclusive. Called
        once per SparkContext batch: stage ids restart with a new context."""
        by_group = {s["group"]: s for s in self.spans if s["group"] is not None}
        for j in jobs:
            s = by_group.get(j["group"]) if j["group"] is not None else None
            if s is None:
                continue
            acc = s.setdefault("counters", {})
            acc["jobs"] = acc.get("jobs", 0) + 1
            if j["name"].startswith(("localCheckpoint", "checkpoint")):
                acc["checkpoint_jobs"] = acc.get("checkpoint_jobs", 0) + 1
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None:
                    continue
                acc["stages"] = acc.get("stages", 0) + 1
                for k in ("tasks", "executor_run_s", "shuffle_write_bytes",
                          "shuffle_read_bytes", "spill_bytes"):
                    acc[k] = acc.get(k, 0) + st[k]
                s.setdefault("stage_spans", []).append((st["start"], st["end"] or s["end"]))

    def layer_metrics(self, n_setups: int, n_queries: int) -> dict[str, float]:
        """Per-layer metrics: setup-phase spans per set-up, the once-per-run
        front door as is, query-phase spans per traced query, summed over the
        phases. ``self_s`` is wall time
        minus the child spans; ``driver_s`` is wall time minus the union of
        the span's stage-active intervals (collects, broadcasts, job latency)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
        for s in self.spans:
            if s["name"] not in LAYERS:
                continue
            per = 1.0 / {"setup": n_setups, "front": 1, "query": n_queries}[s["phase"]]
            wall = s["end"] - s["start"]
            child = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
            acc = dict(s.get("counters", {}))
            acc["wall_s"] = wall
            acc["self_s"] = wall - _union_within(child, s["start"], s["end"])
            acc["driver_s"] = wall - _union_within(s.get("stage_spans", []), s["start"], s["end"])
            for k, v in acc.items():
                out[f"{s['name']}.{k}"] += v * per
        return out

    def dump(self, path: str) -> None:
        """Write the spans out (once, when the run ends)."""
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [{k: s[k] for k in ("id", "name", "parent", "query", "phase", "start", "end")}
                 for s in self.spans],
                f,
            )


class StatusReader:
    """Incremental reads of the driver's status stores for one SparkContext.

    ``collect()`` returns the jobs, stages and SQL executions that appeared
    since the previous call; it runs after a query, outside its timing."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._last_stage = -1
        self._sql_seen = 0

    def collect(self) -> tuple[list[dict], dict[int, dict], list[dict]]:
        jobs = []
        it = self._store.jobsList(None).iterator()
        newest = self._last_job
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._last_job:
                break  # listed newest first
            newest = max(newest, jid)
            grp = j.jobGroup()
            jobs.append({
                "id": jid,
                "group": grp.get() if grp.isDefined() else None,
                "name": j.name(),
                "stages": [int(s) for s in j.stageIds().mkString(",").split(",") if s],
            })
        self._last_job = newest

        stages: dict[int, dict] = {}
        it = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gateway.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList(),
        ).iterator()
        newest = self._last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break  # listed newest first
            newest = max(newest, sid)
            sub, done = s.submissionTime(), s.completionTime()
            if not sub.isDefined():
                continue  # skipped: its output was reused
            stages[sid] = {
                "tasks": s.numCompleteTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "start": sub.get().getTime() / 1e3,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
            }
        self._last_stage = newest

        execs = []
        total = self._sql.executionsCount()
        if total > self._sql_seen:
            it = self._sql.executionsList(self._sql_seen, total - self._sql_seen).iterator()
            while it.hasNext():
                x = it.next()
                execs.append(self._kernel_metrics(x))
            self._sql_seen = total
        return jobs, stages, execs

    def _kernel_metrics(self, x) -> dict:
        """Sum the SQL metrics of the intersection kernel's MapInArrow nodes
        (the triangles module's closures are all named ``run``)."""
        eid = x.executionId()
        out = {"start": x.submissionTime() / 1e3, **{v: 0.0 for v in _KERNEL_SQL.values()}}
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != "MapInArrow" or not node.desc().startswith("MapInArrow run("):
                continue
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = _KERNEL_SQL.get(m.name())
                v = values.get(m.accumulatorId())
                if key is not None and v.isDefined():
                    out[key] += parse_sql_metric(v.get())
        return out


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class PeakRss:
    """Peak resident memory (VmHWM) of this process and all descendants — the
    JVM and the Python workers — sampled from /proc by one thread. Entering
    first clears every such process's high-water mark, so input generation
    earlier in the run does not count.

    ``python_mb`` (driver + workers) is the steady figure: the JVM's peak is
    set by when its collector runs (1.3-1.7 GB for identical work at a 2 GB
    heap), so it is reported apart, in ``by_process_mb``."""

    def __init__(self, interval: float = 0.25):
        self._interval = interval
        self._peak: dict[int, int] = {}
        self._comm: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        for pid in _descendant_pids(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass  # the process ended meanwhile
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def python_mb(self) -> float:
        by = self.by_process_mb()
        return by["driver_python_mb"] + by["python_workers_mb"]

    def by_process_mb(self) -> dict[str, float]:
        """The peak split into this process, the JVM and the Python workers."""
        out = {"driver_python_mb": 0.0, "jvm_mb": 0.0, "python_workers_mb": 0.0}
        for pid, kb in self._peak.items():
            kind = ("driver_python_mb" if pid == os.getpid()
                    else "jvm_mb" if self._comm.get(pid) == "java" else "python_workers_mb")
            out[kind] += kb / 1024.0
        return out

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def _sample(self) -> None:
        for pid in _descendant_pids(os.getpid()):
            hwm = _vm_hwm_kb(pid)
            if hwm is not None:
                self._peak[pid] = max(self._peak.get(pid, 0), hwm)
                if pid not in self._comm:
                    try:
                        with open(f"/proc/{pid}/comm") as f:
                            self._comm[pid] = f.read().strip()
                    except OSError:
                        self._comm[pid] = ""


def _descendant_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields after ')' are fixed
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None
