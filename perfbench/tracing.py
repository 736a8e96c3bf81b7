"""Layer spans and Spark task counters for the traced benchmark run.

Spans are recorded from outside the package: :meth:`Tracer.install` swaps
each traced public function for a wrapper (module attribute or class
method) and :meth:`Tracer.uninstall` puts the originals back. The package
looks these names up at call time (``B.add_block_keys``, ``W.write_stage``,
``build_best_matches``), so the wrappers see every call.

Each span sets the Spark job group of its thread to its own id, so the
event log ties every task to the innermost open span. Writer spans are
transparent: they set no job group and do not count as children, because
a stage write executes the plan of the layer that called it.

The package fuses layers lazily (extraction into the distinct stage,
blocking into the scoring stage). The traced run materializes the output
of the functions marked ``materialize`` inside their span, so the next
layer's span excludes their work. That changes the plan, which is why the
end-to-end metrics come from the untraced run only.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import statistics
import threading
import time

PKG = "metadata_reconciliation_tool_spark"

# (module, attribute, layer, materialize). "Class.method" patches a method.
TRACED = [
    ("plans.pipeline", "ReconPipeline.run", "pipeline", False),
    ("plans.pipeline", "ReconPipeline.entities_distinct", "extract", False),
    ("plans.pipeline", "ReconPipeline.blocking", "blocking", False),
    ("plans.pipeline", "ReconPipeline.scoring", "scoring", False),
    ("plans.pipeline", "ReconPipeline.clusters", "clustering", False),
    ("plans.pipeline", "ReconPipeline.best_matches", "best", False),
    ("plans.pipeline", "build_best_matches", "best", False),
    ("plans.incremental", "IncrementalRecon.ingest_batch", "incremental", False),
    ("plans.incremental", "IncrementalRecon.best_matches", "incremental", False),
    ("plans.incremental", "IncrementalRecon.compact", "incremental", False),
    ("plans.incremental", "IncrementalRecon.clusters_state", "incremental", False),
    ("plans.incremental", "IncrementalRecon._refresh_clusters", "clustering", False),
    ("operators.extract", "extract_entities", "extract", True),
    ("operators.extract", "distinct_entities", "extract", True),
    ("operators.extract", "prepare_dictionary", "extract", False),
    ("operators.blocking", "add_block_keys", "blocking", False),
    ("operators.blocking", "dictionary_candidates", "blocking", True),
    ("operators.blocking", "self_candidates", "blocking", True),
    ("operators.blocking", "asymmetric_candidates", "blocking", True),
    ("operators.scoring", "score_pairs", "scoring", True),
    ("operators.scoring", "cap_persisted_scores", "scoring", False),
    ("operators.clustering", "connected_components", "clustering", False),
    ("operators.clustering", "assign_clusters", "clustering", False),
    ("operators.ranking", "best_match", "best", False),
    ("sources.writers", "write_stage", "writers", False),
    ("sources.writers", "read_stage", "writers", False),
]
TRANSPARENT = {"writers"}


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by the PySpark daemon and its workers
    (live workers plus the reaped ones the daemon has waited for). The
    pandas UDF kernels run there, outside the executor CPU time that the
    event log reports."""
    total = 0.0
    tick = os.sysconf("SC_CLK_TCK")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


class Span:
    __slots__ = ("id", "name", "layer", "parent", "run", "start", "end",
                 "py_cpu_s", "attrs")

    def __init__(self, sid, name, layer, parent, run):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.run = parent, run
        self.start = self.end = 0.0
        self.py_cpu_s = 0.0
        self.attrs: dict[str, float] = {}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run_id = run_id
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        # the span every thread without an open span (the pipeline's
        # two-thread fan-out) reports as its parent
        self._root: Span | None = None

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span.id), f"{span.layer}:{span.name}")

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        opaque = [s for s in stack if s.layer not in TRANSPARENT]
        parent = opaque[-1] if opaque else self._root
        span = Span(next(self._ids), name, layer,
                    parent.id if parent else None, self.run_id)
        with self._lock:
            self.spans.append(span)
        stack.append(span)
        if layer not in TRANSPARENT:
            self._set_group(span)
        if not stack[:-1] and self._root is None:
            self._root = span
        span.py_cpu_s = -python_worker_cpu_s()
        span.start = time.monotonic()
        return span

    def close(self, span: Span) -> None:
        span.end = time.monotonic()
        span.py_cpu_s += python_worker_cpu_s()
        stack = self._stack()
        stack.pop()
        if span is self._root:
            self._root = None
        if span.layer not in TRANSPARENT:
            opaque = [s for s in stack if s.layer not in TRANSPARENT]
            self._set_group(opaque[-1] if opaque else None)

    def _wrap(self, fn, name: str, layer: str, materialize: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
                if materialize:
                    out = _materialize(out, span)
                return out
            finally:
                tracer.close(span)

        return traced

    def install(self) -> None:
        for mod_name, attr, layer, mat in TRACED:
            owner = importlib.import_module(f"{PKG}.{mod_name}")
            *cls, name = attr.split(".")
            if cls:
                owner = getattr(owner, cls[0])
            fn = getattr(owner, name)
            self._saved.append((owner, name, fn))
            setattr(owner, name, self._wrap(fn, attr, layer, mat))

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()

    # -- reporting ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its (opaque)
        children; children of one parent may overlap (threads)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.layer not in TRANSPARENT:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str, by_span: dict) -> None:
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.id, "name": s.name, "layer": s.layer,
                "parent": s.parent, "run": s.run,
                "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                "self_s": round(selfs[s.id], 6),
                "py_cpu_s": round(s.py_cpu_s, 3),
                "spark_jobs": by_span.get(s.id, {}).get("jobs", 0),
                "spark_tasks": len(by_span.get(s.id, {}).get("tasks", [])),
                **s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _materialize(out, span: Span):
    """Compute a lazily returned frame inside its span and count it."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    first = out[0] if isinstance(out, tuple) else out
    if not isinstance(first, DataFrame):
        return out
    first = first.localCheckpoint(eager=True)
    if "score_pruned" in first.columns:
        agg = first.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("score_pruned").cast("long")).alias("pruned"),
            F.sum(F.col("is_match").cast("long")).alias("matches"),
            F.sum(
                (F.col("is_match") & (F.col("pair_kind") == "self")).cast("long")
            ).alias("self_matches"),
        ).collect()[0]
        span.attrs.update({k: int(agg[k] or 0) for k in agg.asDict()})
    else:
        span.attrs["rows"] = first.count()
    return (first, *out[1:]) if isinstance(out, tuple) else first


# -- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict[int | None, dict]:
    """Jobs and finished tasks per span id, from the job group each job
    was submitted under (None: submitted outside any span)."""
    stage_group: dict[int, int | None] = {}
    by_span: dict[int | None, dict] = {}

    def entry(gid: int | None) -> dict:
        return by_span.setdefault(gid, {"jobs": 0, "tasks": []})

    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(log_dir)
        for n in names
        if not n.startswith(("appstatus", "."))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    gid = int(group) if group and group.isdigit() else None
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                    entry(gid)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    gid = stage_group.get(ev["Stage ID"])
                    entry(gid)["tasks"].append({
                        "stage": ev["Stage ID"],
                        "dur_s": (info.get("Finish Time", 0)
                                  - info.get("Launch Time", 0)) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_b": sw.get("Shuffle Bytes Written", 0)
                        + sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                    })
    return by_span


def layer_metrics(tracer: Tracer, by_span: dict) -> dict:
    """Per-layer wall (sum of span self times), executor and Python worker
    CPU, task counters and the counts recorded at materialized spans."""
    selfs = tracer.self_times()
    spans = tracer.spans
    layers: dict[str, dict] = {}
    for s in spans:
        lay = layers.setdefault(s.layer, {
            "wall_s": 0.0, "py_cpu_s": 0.0, "tasks": [], "jobs": 0,
            "attrs": {},
        })
        lay["wall_s"] += selfs[s.id]
        work = by_span.get(s.id, {"jobs": 0, "tasks": []})
        lay["jobs"] += work["jobs"]
        lay["tasks"] += work["tasks"]
        for k, v in s.attrs.items():
            key = f"{s.name.rsplit('.', 1)[-1]}.{k}"
            lay["attrs"][key] = lay["attrs"].get(key, 0) + v
    # Python worker CPU is sampled at span boundaries, so a parent's delta
    # includes its children's; keep each span's own share
    own_py = {s.id: s.py_cpu_s for s in spans}
    for s in spans:
        if s.parent in own_py and s.layer not in TRANSPARENT:
            own_py[s.parent] -= s.py_cpu_s
    for s in spans:
        if s.layer not in TRANSPARENT:
            layers[s.layer]["py_cpu_s"] += max(0.0, own_py[s.id])
    for lay in layers.values():
        ts = lay["tasks"]
        lay["cpu_s"] = sum(t["cpu_s"] for t in ts)
        lay["shuffle_mb"] = sum(t["shuffle_b"] for t in ts) / 2**20
        durs = [t["dur_s"] for t in ts]
        med = statistics.median(durs) if durs else 0.0
        lay["task_skew"] = max(durs) / med if med > 0 else 1.0
    return layers
