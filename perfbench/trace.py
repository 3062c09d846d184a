"""Spans around calls into the engine, and collectors read from outside it.

Tracing wraps public engine entry points by patching them from here, for the
lifetime of one traced run; the engine itself is not modified. Spans live in
memory and are written as JSON lines when the run ends. Collectors read the
Spark status store (executor and stage totals) and ``/proc/<jvm pid>`` — none
of them needs tracing, so the untraced run reads them too.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

# (module, attribute) pairs wrapped during a traced run. Functions are patched
# in every module that imported them by name, so calls made inside the engine
# (for example the streaming sink calling apply_changes) are covered too.
FUNCTION_TARGETS = [
    ("etl_geo_dem_spark.plans.merge", "apply_changes", "merge.apply_changes"),
    ("etl_geo_dem_spark.streaming.ingest", "apply_changes", "merge.apply_changes"),
]
LAKE_METHODS = [
    "write_data_files", "commit", "snapshot_meta", "write_epoch_manifest",
    "compact_buckets", "compact", "read", "point_lookup",
]
BACKEND_METHODS = ["put_if_absent", "put_atomic"]
# span attributes taken from a wrapped call's return value
RESULT_ATTRS = {
    "merge.apply_changes": lambda m: {
        "input_events": m["input_events"], "kept": m["state_rows_touched_buckets"],
    },
    "lake.write_data_files": lambda files: {
        "files": len(files), "bytes": sum(f.get("bytes", 0) for f in files),
    },
}


class Tracer:
    """In-memory span store. Disabled tracers cost one attribute check."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._undo: list = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or getattr(self._local, "suppress", False):
            yield None
            return
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "run": self.run_id, "thread": threading.get_ident(), **attrs,
        }
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += (rec["start"] - b0) + (time.perf_counter() - rec["end"])

    @contextmanager
    def suppressed(self):
        """Calls made inside this block (on this thread) record no spans —
        for the benchmark's own polling, which is not engine work."""
        self._local.suppress = True
        try:
            yield
        finally:
            self._local.suppress = False

    def _wrap(self, fn, name: str):
        tracer = self

        attrs_of = RESULT_ATTRS.get(name)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name) as rec:
                out = fn(*a, **kw)
                if rec is not None and attrs_of is not None:
                    rec.update(attrs_of(out))
                return out

        return traced

    def install(self) -> None:
        """Patch the engine's entry points; :meth:`uninstall` restores them."""
        if not self.enabled:
            return
        import importlib

        from etl_geo_dem_spark.plans import commit_backend
        from etl_geo_dem_spark.plans.lake_table import LakeTable

        for mod_name, attr, span_name in FUNCTION_TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._undo.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span_name))
        for meth in LAKE_METHODS:
            orig = LakeTable.__dict__[meth]
            self._undo.append((LakeTable, meth, orig))
            setattr(LakeTable, meth, self._wrap(orig, f"lake.{meth}"))
        for cls in (commit_backend.PosixCommitBackend, commit_backend.ObjectStoreCommitBackend):
            for meth in BACKEND_METHODS:
                if meth in cls.__dict__:
                    orig = cls.__dict__[meth]
                    self._undo.append((cls, meth, orig))
                    setattr(cls, meth, self._wrap(orig, f"commit_backend.{meth}"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")

    # ---------------------------------------------------------------- summaries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Span time minus the union of its direct children's intervals."""
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                by_parent.setdefault(s["parent"], []).append(s)
        total = 0.0
        for s in self.named(name):
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(by_parent.get(s["id"], []), key=lambda c: c["start"]):
                if cur_end is None or c["start"] > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c["start"], c["end"]
                else:
                    cur_end = max(cur_end, c["end"])
            if cur_end is not None:
                covered += cur_end - cur_start
            total += (s["end"] - s["start"]) - covered
        return total

    def under(self, name: str, parent_prefix: str) -> list[dict]:
        """``name`` spans whose direct parent's name starts with ``parent_prefix``."""
        parents = {s["id"] for s in self.spans if s["name"].startswith(parent_prefix)}
        return [s for s in self.named(name) if s["parent"] in parents]

    def attr_sum(self, name: str, attr: str) -> float:
        return float(sum(s.get(attr, 0) for s in self.named(name)))


class SparkProbe:
    """Executor, stage and JVM-process totals, read as deltas from ``start()``."""

    EXECUTOR_FIELDS = {
        "gc_ms": "totalGCTime", "input_bytes": "totalInputBytes",
        "shuffle_read_bytes": "totalShuffleRead", "shuffle_write_bytes": "totalShuffleWrite",
        "tasks_done": "completedTasks", "tasks_failed": "failedTasks",
    }

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self._t0 = self._cpu0 = None
        self._exec0: dict[str, float] = {}
        self._stage0 = -1

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def live_heap_mb(self) -> float:
        """Heap still in use after a full collection: what the run retains."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def _executors(self) -> dict[str, float]:
        seq = self.store.executorList(True)
        out = dict.fromkeys(self.EXECUTOR_FIELDS, 0.0)
        for i in range(seq.size()):
            ex = seq.apply(i)
            for k, meth in self.EXECUTOR_FIELDS.items():
                out[k] += float(getattr(ex, meth)())
        return out

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        jvm = self.spark._jvm
        empty = gw.new_array(jvm.double, 0)
        return self.store.stageList(jvm.java.util.ArrayList(), False, False, empty, jvm.java.util.ArrayList())

    def start(self) -> None:
        self._t0 = time.perf_counter()
        self._cpu0 = self.jvm_cpu_s()
        self._exec0 = self._executors()
        stages = self._stages()
        self._stage0 = max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)

    def totals(self) -> dict[str, float]:
        wall = time.perf_counter() - self._t0
        cpu = self.jvm_cpu_s() - self._cpu0
        ex = self._executors()
        d = {k: ex[k] - self._exec0.get(k, 0.0) for k in ex}
        # task time comes from the stages: in local mode the executor summary's
        # totalDuration tracks wall time, not task time
        map_ms = result_ms = spill = 0.0
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self._stage0:
                continue
            spill += float(st.memoryBytesSpilled()) + float(st.diskBytesSpilled())
            if st.shuffleWriteBytes() > 0:
                map_ms += float(st.executorRunTime())
            else:
                result_ms += float(st.executorRunTime())
        return {
            "spark.task_s": (map_ms + result_ms) / 1e3,
            "spark.gc_s": d["gc_ms"] / 1e3,
            "spark.tasks": d["tasks_done"],
            "spark.tasks_failed": d["tasks_failed"],
            "spark.spill_bytes": spill,
            "spark.shuffle_write_bytes": d["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": d["shuffle_read_bytes"],
            "input.bytes_read": d["input_bytes"],
            "stage.map_s": map_ms / 1e3,
            "stage.result_s": result_ms / 1e3,
            "jvm.cpu_s": cpu,
            "jvm.cpu_util": cpu / (wall * self.cores) if wall > 0 else 0.0,
        }
