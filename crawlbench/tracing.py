"""Spans around calls into crawlfe's layers (traced runs only; nothing
inside ``crawlfe`` changes), plus /proc and event-log accounting.

Spark is lazy, so a span around a function that returns a DataFrame
ends on an action that materializes that layer's output (persist +
count) and hands the persisted frame on: the span's time is then that
layer's own work, and the difference between a traced and an
untraced run is the tracing overhead. Every span tags its Spark jobs
with ``setJobGroup``; the event log is parsed afterwards for CPU, GC,
shuffle, spill and task skew per span.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc ---------------------------------------------------------------

def _procs() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields after comm) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rfind(")") + 2:].split()
        out[int(name)] = (int(rest[1]), s[s.find("(") + 1:s.rfind(")")], rest)
    return out


def descendants(root: int | None = None) -> dict[int, tuple]:
    root = os.getpid() if root is None else root
    procs = _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid]
        todo.extend(kids.get(pid, []))
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes below this one (the pyspark
    daemon and its workers), including reaped children's time."""
    total = 0
    for _, comm, rest in descendants().values():
        if comm.startswith("python"):
            total += sum(int(x) for x in rest[11:15])
    return total / _TICK


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat:
    the time the hypervisor ran someone else on this VM's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def tree_peak_rss_bytes() -> int:
    """Sum of the kernel's per-process peak resident size (VmHWM) over
    this process and every process below it: driver, JVM and Python
    workers. An upper bound of their simultaneous peak, free of any
    sampling interval."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans; ``spans`` is written out when the run ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []

    @contextmanager
    def span(self, layer: str, name: str, op: str = "", **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "layer": layer, "name": name,
            "parent": parent["id"] if parent else None,
            "op": op or (parent["op"] if parent else ""), **attrs,
        }
        rec["group"] = f"span-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], f"{layer}.{name}")
        cpu0 = python_worker_cpu_s()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["python_cpu_s"] = python_worker_cpu_s() - cpu0
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def release(self) -> None:
        """Unpersist what spans materialized."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def _lazy(self, layer: str, fn, count_col: str | None = None,
              new_query: bool = False):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if new_query:
                # Spark's cache matches equal plans: a repeated query
                # would reuse the last one's persisted layers
                self.release()
            with self.span(layer, fn.__name__) as rec:
                df = fn(*a, **k).persist()
                self._cached.append(df)
                if count_col is None:
                    rec["rows"] = df.count()
                else:
                    from pyspark.sql import functions as F

                    col = k.get(count_col, "warc_ts")
                    r = df.agg(F.count(F.lit(1)), F.count(col)).first()
                    rec["rows"], rec["matched"] = int(r[0]), int(r[1])
            return df
        return wrapper

    def _eager(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(layer, fn.__name__):
                return fn(*a, **k)
        return wrapper

    @contextmanager
    def instrument(self):
        """Route crawlfe's layer entry points through spans while the
        block runs; the originals are restored afterwards."""
        import crawlfe.features as features
        import crawlfe.pipeline as pipeline
        from crawlfe.io import IcebergLite

        feat = self._lazy("features", features.featurize)
        patches = [
            (features, "featurize", feat),
            (pipeline, "featurize", feat),
            (pipeline, "with_lag_lead",
             self._lazy("windows", pipeline.with_lag_lead)),
            (pipeline, "sessionize",
             self._lazy("windows", pipeline.sessionize)),
            (pipeline, "asof_join",
             self._lazy("asof", pipeline.asof_join, count_col="ts_build")),
            (pipeline, "commit_batch",
             self._eager("pipeline", pipeline.commit_batch)),
            (pipeline, "feature_pipeline",
             self._eager("pipeline", pipeline.feature_pipeline)),
            (IcebergLite, "stage", self._eager("io", IcebergLite.stage)),
            (IcebergLite, "commit", self._eager("io", IcebergLite.commit)),
            (IcebergLite, "read",
             self._lazy("io", IcebergLite.read, new_query=True)),
        ]
        saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
        for obj, name, fn in patches:
            setattr(obj, name, fn)
        try:
            yield self
        finally:
            for obj, name, fn in saved:
                setattr(obj, name, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# -- event log -----------------------------------------------------------

def parse_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> {"stages": {stage: [task run ms]}, cpu_ns, gc_ms,
    shuffle_write, spill} from the (single, uncompressed) event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = groups.setdefault(g, {
                        "stages": {}, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_write": 0, "spill": 0,
                    })
                    acc["stages"].setdefault(ev["Stage ID"], []).append(
                        m["Executor Run Time"])
                    acc["cpu_ns"] += m["Executor CPU Time"]
                    acc["gc_ms"] += m["JVM GC Time"]
                    acc["shuffle_write"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    acc["spill"] += (
                        m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"])
    return groups


def task_skew(stage_runs: list[list[int]]) -> float:
    """max/median task run time of the stage with the most run time."""
    runs = [r for r in stage_runs if r]
    if not runs:
        return 0.0
    top = max(runs, key=sum)
    med = statistics.median(top)
    return max(top) / med if med > 0 else 1.0


def layer_metrics(spans: list[dict], groups: dict[str, dict], layer: str) -> dict:
    """Sums over the layer's spans: wall, Python CPU, JVM CPU, shuffle
    write, spill, rows; task skew of its heaviest stage."""
    mine = [s for s in spans if s["layer"] == layer]
    ev = [groups.get(s["group"], {}) for s in mine]
    return {
        "wall_s": sum(s["end"] - s["start"] for s in mine),
        "python_cpu_s": sum(s["python_cpu_s"] for s in mine),
        "jvm_cpu_s": sum(e.get("cpu_ns", 0) for e in ev) / 1e9,
        "shuffle_write_bytes": sum(e.get("shuffle_write", 0) for e in ev),
        "spill_bytes": sum(e.get("spill", 0) for e in ev),
        "task_skew": task_skew(
            [r for e in ev for r in e.get("stages", {}).values()]),
        "rows": sum(s.get("rows", 0) for s in mine),
        "matched": sum(s.get("matched", 0) for s in mine),
    }
