"""Span tracing around the engine's public calls, with Spark attribution.

A :class:`Tracer` replaces each public function or method listed in
:data:`LAYERS` with a wrapper that records a span (name, layer, start, end,
parent span, request id) in memory.  The wrapper is installed on every
``hipporag_spark`` module attribute that holds the original object, so a
caller that imported the function by name (``retrieve.py`` imports
``personalized_pagerank_batch``) resolves the wrapper too.

Each span runs its Spark jobs under a job group of its own.  Because the
innermost span's group is the one active while a job runs, the jobs, stages
and task metrics a span collects are its *self* share; its self time is its
duration minus the time its child spans cover.  Jobs and stages come from
the status tracker; task time, shuffle bytes and result bytes come from the
local Spark event log, parsed after the session stops.

:class:`RssSampler` samples ``/proc`` resident set size of the benchmark's
process tree (this Python process, the Spark JVM and the Python workers).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time

# layer -> (module, attribute) pairs whose calls are wrapped in spans
LAYERS: dict[str, list[tuple[str, str]]] = {
    "retrieve": [("hipporag_spark.retrieve", "GraphRetriever.__init__"),
                 ("hipporag_spark.retrieve", "GraphRetriever.retrieve")],
    "ppr": [("hipporag_spark.ppr", "personalized_pagerank_batch"),
            ("hipporag_spark.ppr", "personalized_pagerank")],
    "knn": [("hipporag_spark.knn", "cosine_topk_with_stats"),
            ("hipporag_spark.knn", "synonym_edges")],
    "catalog": [("hipporag_spark.catalog", f"Catalog.{m}")
                for m in ("read", "upsert_delta", "append", "write", "replace_keys")],
    "engine": [("hipporag_spark.engine", "HippoIndex.index"),
               ("hipporag_spark.engine", "HippoIndex.retriever")],
    "tenants": [("hipporag_spark.tenants", "MultiTenantManager.get")],
    "api": [("hipporag_spark.api", "HippoService.index_docs"),
            ("hipporag_spark.api", "HippoService.retrieve_docs")],
    "graph": [("hipporag_spark.graph", "build_graph"),
              ("hipporag_spark.graph", "symmetrize")],
    "components": [("hipporag_spark.components", "connected_components")],
    "lpa": [("hipporag_spark.lpa", "label_propagation")],
    "triangles": [("hipporag_spark.triangles", "triangle_count")],
}

# Times are reported per layer as shares of the traced totals, so that a
# layer a workload never calls reads 0 % rather than a constant 0 s; the
# totals themselves are the trace.* times.
BASE_METRICS = [
    ("calls", "count"), ("self_share", "%"), ("jobs", "count"), ("stages", "count"),
    ("task_share", "%"), ("shuffle_bytes", "B"), ("result_bytes", "B"),
    ("failures", "count"),
]
EXTRA_METRICS = {
    "retrieve": [("init_share", "%"), ("persisted_rdds_delta", "count")],
    "catalog": [("files_read", "count"), ("bytes_written", "B")],
}
TRACE_METRICS = [
    ("trace.self_s", "s"),      # sum of span self times: the traced wall
    ("trace.task_s", "s"),      # executor task time of all span job groups
    # traced end-to-end value; minus the untraced read_cpu_s of the same
    # seed it gives the tracing overhead
    ("trace.read_cpu_s", "s"),
]

_CATALOG_WRITES = {"Catalog.upsert_delta", "Catalog.append", "Catalog.write",
                   "Catalog.replace_keys"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a stable order."""
    out = {}
    for layer in LAYERS:
        for m, unit in BASE_METRICS + EXTRA_METRICS.get(layer, []):
            out[f"{layer}.{m}"] = unit
    out.update(dict(TRACE_METRICS))
    return out


class Span:
    __slots__ = ("id", "name", "layer", "parent", "request", "group", "start",
                 "end", "failed", "counts")

    def __init__(self, sid, name, layer, parent, request, group):
        self.id = sid
        self.name = name
        self.layer = layer
        self.parent = parent
        self.request = request
        self.group = group
        self.start = time.perf_counter()
        self.end = None
        self.failed = False
        self.counts: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:  # a file replaced between listing and stat
                pass
    return total


class Tracer:
    """In-memory span recorder; :meth:`install` wraps the layer functions,
    :meth:`uninstall` restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # set by the client around an HTTP round trip so that spans opened
        # on the server's handler thread hang under the client span
        self.remote_parent: Span | None = None
        self.request: str | None = None

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        st = self._stack()
        parent = st[-1] if st else self.remote_parent
        sid = next(self._ids)
        group = f"span-{sid}"
        sp = Span(sid, name, layer, parent.id if parent else None,
                  parent.request if parent else self.request, group)
        self.sc.setJobGroup(group, f"{layer}:{name}")
        st.append(sp)
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)
            if st:
                self.sc.setJobGroup(st[-1].group, f"{st[-1].layer}:{st[-1].name}")
            else:
                self.sc._jsc.clearJobGroup()

    def _wrapper(self, layer: str, qual: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(layer, qual) as sp:
                st = tracer._stack()
                if qual == "Catalog.read":
                    sp.counts["files_read"] = len(args[0]._files(args[1]))
                tdir = None
                if qual in _CATALOG_WRITES and not (len(st) > 1 and st[-2].layer == "catalog"):
                    # outermost catalog write only: nested verbs
                    # (upsert_delta -> append) would count bytes twice
                    tdir = args[0]._tdir(args[1])
                    before = _dir_bytes(tdir)
                try:
                    return fn(*args, **kwargs)
                finally:
                    if tdir is not None:
                        sp.counts["bytes_written"] = _dir_bytes(tdir) - before

        return wrapped

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        import importlib

        mods = {}
        for targets in LAYERS.values():
            for modname, _ in targets:
                mods[modname] = importlib.import_module(modname)
        for layer, targets in LAYERS.items():
            for modname, qual in targets:
                mod = mods[modname]
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    self._set(cls, meth, self._wrapper(layer, qual, orig))
                    continue
                orig = getattr(mod, qual)
                wrapped = self._wrapper(layer, qual, orig)
                # every module attribute that resolves to the function,
                # under any alias (engine imports synonym_edges as
                # knn_synonym_edges)
                for m in list(sys.modules.values()):
                    if not getattr(m, "__name__", "").startswith("hipporag_spark"):
                        continue
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            self._set(m, attr, wrapped)

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- attribution -----------------------------------------------------
    def attach_job_counts(self) -> None:
        """Read each span's jobs and stages from the status tracker; call
        after the last job and before the session stops."""
        from py4j.protocol import Py4JError

        try:  # let the listener bus deliver every job start
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # an internal API; fall back to a short wait
            time.sleep(1.0)
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(sp.group)
            stages = 0
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages += len(list(info.stageIds))
            sp.counts["jobs"] = len(jobs)
            sp.counts["stages"] = stages

    def attach_task_metrics(self, event_log: str) -> None:
        """Sum task time, shuffle bytes written and result bytes per span
        from a finished, uncompressed, non-rolling Spark event log."""
        by_group: dict[str, dict[str, float]] = {}
        stage_group: dict[int, str] = {}
        with open(event_log) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in e.get("Stage IDs", []):
                            stage_group.setdefault(s, g)
                elif '"SparkListenerTaskEnd"' in line:
                    e = json.loads(line)
                    g = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if g is None or not m:
                        continue
                    acc = by_group.setdefault(
                        g, {"task_s": 0.0, "shuffle_bytes": 0, "result_bytes": 0})
                    acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["result_bytes"] += m.get("Result Size", 0)
        for sp in self.spans:
            sp.counts.update(by_group.get(
                sp.group, {"task_s": 0.0, "shuffle_bytes": 0, "result_bytes": 0}))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            ivs = sorted((max(c.start, sp.start), min(c.end, sp.end))
                         for c in children.get(sp.id, []))
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in ivs:
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics and the ``trace.self_s`` and ``trace.task_s``
        totals that the shares refer to."""
        selfs = self.self_times()
        out = {name: 0 for name in per_layer_units()}
        self_s: dict[str, float] = {}
        task_s: dict[str, float] = {}
        init_s = 0.0
        for sp in self.spans:
            L = sp.layer
            out[f"{L}.calls"] += 1
            out[f"{L}.failures"] += int(sp.failed)
            self_s[L] = self_s.get(L, 0.0) + selfs[sp.id]
            task_s[L] = task_s.get(L, 0.0) + sp.counts.get("task_s", 0.0)
            if sp.name == "GraphRetriever.__init__":
                init_s += selfs[sp.id]
            for k, v in sp.counts.items():
                if f"{L}.{k}" in out:
                    out[f"{L}.{k}"] += v
        total_self, total_task = sum(self_s.values()), sum(task_s.values())
        for L in self_s:
            out[f"{L}.self_share"] = 100.0 * self_s[L] / total_self if total_self else 0.0
            out[f"{L}.task_share"] = 100.0 * task_s[L] / total_task if total_task else 0.0
        out["retrieve.init_share"] = 100.0 * init_s / total_self if total_self else 0.0
        out["trace.self_s"] = total_self
        out["trace.task_s"] = total_task
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(sp.as_dict()) + "\n")


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from ``/proc/*/stat``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children
    included: the compute an operation consumed, which, unlike its wall
    time, does not grow when the hypervisor steals CPU from the machine."""
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class RssSampler:
    """Background thread sampling the resident set size of this process and
    all its descendants from ``/proc``; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler",
                                        daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # a /proc scan costs more than a sample
                self._pids = process_tree(os.getpid())
            total = 0
            for pid in self._pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * _PAGE
                except OSError:  # the process has exited
                    pass
            self.peak_bytes = max(self.peak_bytes, total)
            n += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
