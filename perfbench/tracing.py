"""Tracing for the per-layer run: spans around each call into a layer,
Spark stages as child spans, and control-plane filesystem counters.

Nothing here runs inside the engine. Spans are opened by the benchmark's
workload code around public calls (``objects.stamp``, ``Engine.upsert``,
``temporal.history`` ...). Each traced layer call runs under its own Spark
job group, so the stages it scheduled are found exactly through the
status tracker and read from the monitoring REST API (the same endpoint
``metrique_spark/plans/metrics.py`` reads). Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections import defaultdict

from metrique_spark.fs import FileSystem

# every FileSystem operation except the pure ``join``
FS_METHODS = ("exists", "isfile", "isdir", "listdir", "read_text", "mtime",
              "du", "makedirs", "write_text", "put_if_absent",
              "replace_if_match", "delete_if_match", "delete", "delete_dir",
              "copy")
_PUTS = ("write_text", "put_if_absent", "replace_if_match")


class CountingFS(FileSystem):
    """Forwards every call to ``inner`` and counts calls, busy seconds and
    bytes put per method. Bytes put to the cube manifest (``_manifest.json``
    and ``_manifest_seg/``) are also counted on their own."""

    def __init__(self, inner: FileSystem):
        self.inner = inner
        self.supports_pid_liveness = inner.supports_pid_liveness
        self.calls: dict[str, int] = defaultdict(int)
        self.busy_s = 0.0
        self.bytes_put = 0
        self.manifest_bytes = 0

    def join(self, *parts: str) -> str:
        return self.inner.join(*parts)

    def __getattr__(self, name):
        # backend extras outside the FileSystem interface pass through
        return getattr(self.inner, name)

    def snapshot(self) -> dict:
        return {"calls": dict(self.calls), "busy_s": self.busy_s,
                "bytes_put": self.bytes_put,
                "manifest_bytes": self.manifest_bytes}

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {
            "calls": {m: after["calls"].get(m, 0) - before["calls"].get(m, 0)
                      for m in FS_METHODS},
            "busy_s": after["busy_s"] - before["busy_s"],
            "bytes_put": after["bytes_put"] - before["bytes_put"],
            "manifest_bytes": (after["manifest_bytes"]
                               - before["manifest_bytes"]),
        }


def _counted(method: str):
    def call(self, path, *args):
        t0 = time.perf_counter()
        try:
            return getattr(self.inner, method)(path, *args)
        finally:
            self.busy_s += time.perf_counter() - t0
            self.calls[method] += 1
            if method in _PUTS:
                n = len(args[0].encode("utf-8"))
                self.bytes_put += n
                if "_manifest" in path:
                    self.manifest_bytes += n
    call.__name__ = method
    return call


for _m in FS_METHODS:
    setattr(CountingFS, _m, _counted(_m))


def _rest_time(s: str | None) -> float | None:
    """Epoch seconds of a REST timestamp like
    ``2026-01-02T03:04:05.678GMT``."""
    if not s:
        return None
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class StageProbe:
    """Reads the jobs and stages of one job group from the monitoring
    REST API. The status listener is asynchronous, so a group's jobs are
    polled until they have finished."""

    def __init__(self, spark, wait_s: float = 5.0):
        sc = spark.sparkContext
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.wait_s = wait_s

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read().decode())

    def stages_of_group(self, group: str) -> tuple[int, list[dict]]:
        """(job count, completed stage attempts) of a job group. A job or
        stage the REST API cannot return (evicted from the UI store, a
        transient error) contributes no stages."""
        jobs = sorted(self.tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        deadline = time.monotonic() + self.wait_s
        for jid in jobs:
            while True:
                try:
                    job = self._get(f"/jobs/{jid}")
                except OSError:  # URLError, or a timed-out read
                    job = {"stageIds": []}
                    break
                if job["status"] not in ("RUNNING", "UNKNOWN"):
                    break
                if time.monotonic() > deadline:
                    break
                time.sleep(0.005)
            stage_ids.update(job["stageIds"])
        stages = []
        for sid in sorted(stage_ids):
            while True:
                try:
                    attempts = self._get(f"/stages/{sid}?details=false")
                except OSError:  # URLError, or a timed-out read
                    attempts = []
                    break
                if all(a["status"] not in ("ACTIVE", "PENDING")
                       for a in attempts) or time.monotonic() > deadline:
                    break
                time.sleep(0.005)
            for a in attempts:
                if a["status"] in ("COMPLETE", "FAILED"):
                    stages.append(a)
        return len(jobs), stages


def _union_within(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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
    return covered


class Tracer:
    """Span recorder. ``op`` opens one benchmark operation; ``span`` opens
    a layer call inside it. Both are no-ops unless the current operation
    is traced, so workload code calls them unconditionally.

    A span record holds name, start, end (epoch seconds), parent and op
    id; stage child spans add their Spark metrics. Per-layer aggregates
    (wall, driver self time, task CPU, bytes, counts) are kept per span
    name, per call."""

    def __init__(self, spark, fs: CountingFS | None):
        self.spark = spark
        self.fs = fs
        self.probe = StageProbe(spark) if fs is not None else None
        self.spans: list[dict] = []
        self.layers: dict[str, dict] = defaultdict(
            lambda: defaultdict(float))
        self.fs_by_kind: dict[str, dict] = {}
        self.ops_by_kind: dict[str, int] = defaultdict(int)
        self.totals: dict[str, float] = defaultdict(float)
        self.traced_ops = 0
        self._op = None
        self._stack: list[dict] = []
        self._next_id = 0

    @property
    def active(self) -> bool:
        """True inside a traced operation."""
        return self._op is not None

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool):
        if not traced or self.probe is None:
            yield None
            return
        op_id = self._new_id()
        rec = {"id": op_id, "name": f"op.{kind}", "parent": None,
               "op": op_id, "start": time.time()}
        self._op = rec
        self._stack = [rec]
        self._pending: list[dict] = []
        before = self.fs.snapshot()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._op = None
            self._stack = []
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     None)
            self.spans.append(rec)
            self._resolve(rec, kind)
            d = CountingFS.delta(before, self.fs.snapshot())
            agg = self.fs_by_kind.setdefault(
                kind, {"calls": defaultdict(int), "busy_s": 0.0,
                       "bytes_put": 0, "manifest_bytes": 0})
            for m, n in d["calls"].items():
                agg["calls"][m] += n
            for k in ("busy_s", "bytes_put", "manifest_bytes"):
                agg[k] += d[k]
            self.ops_by_kind[kind] += 1
            self.traced_ops += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if self._op is None:
            yield None
            return
        parent = self._stack[-1]
        rec = {"id": self._new_id(), "name": name, "parent": parent["id"],
               "op": self._op["id"], "start": time.time()}
        group = f"perfbench-{rec['id']}"
        rec["group"] = group
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = self._stack[-1].get("group")
            sc.setLocalProperty("spark.jobGroup.id", outer)
            self.spans.append(rec)
            self._pending.append(rec)

    def add(self, name: str, **values: float) -> None:
        """Add counts measured by the workload to a layer's aggregate."""
        if self._op is None:
            return
        for k, v in values.items():
            self.layers[name][k] += v

    def _resolve(self, op_rec: dict, kind: str) -> None:
        """Attach Spark stages to every span of the finished op."""
        for rec in self._pending:
            jobs, stages = self.probe.stages_of_group(rec["group"])
            intervals = []
            agg = self.layers[rec["name"]]
            for st in stages:
                s0 = _rest_time(st.get("submissionTime"))
                s1 = _rest_time(st.get("completionTime"))
                child = {
                    "id": self._new_id(),
                    "name": f"spark.stage.{st['stageId']}",
                    "parent": rec["id"], "op": op_rec["id"],
                    "start": s0, "end": s1,
                    "tasks": st.get("numTasks", 0),
                    "task_cpu_s": st.get("executorCpuTime", 0) / 1e9,
                    "task_run_s": st.get("executorRunTime", 0) / 1e3,
                    "gc_s": st.get("jvmGcTime", 0) / 1e3,
                    "input_bytes": st.get("inputBytes", 0),
                    "input_records": st.get("inputRecords", 0),
                    "output_bytes": st.get("outputBytes", 0),
                    "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                    "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
                }
                self.spans.append(child)
                if s0 is not None and s1 is not None:
                    intervals.append((s0, s1))
                for k in ("tasks", "task_cpu_s", "task_run_s", "gc_s",
                          "input_bytes", "input_records", "output_bytes",
                          "shuffle_write_bytes", "shuffle_read_bytes"):
                    agg[k] += child[k]
                    self.totals[k] += child[k]
            wall = rec["end"] - rec["start"]
            covered = _union_within(intervals, rec["start"], rec["end"])
            rec.update(jobs=jobs, stages=len(stages), self_s=wall - covered)
            agg["calls"] += 1
            agg["wall_s"] += wall
            agg["driver_s"] += wall - covered
            agg["jobs"] += jobs
            agg["stages"] += len(stages)
            self.totals["jobs"] += jobs
            self.totals["stages"] += len(stages)
        self._pending = []

    # -- reporting -----------------------------------------------------------

    def per_call(self, name: str, key: str) -> float:
        agg = self.layers.get(name)
        if not agg or not agg.get("calls"):
            return 0.0
        return agg.get(key, 0.0) / agg["calls"]

    def fs_per_op(self, kind: str) -> dict:
        """Per-operation averages of the filesystem counters for one op
        kind (zeros when no such op was traced)."""
        n = self.ops_by_kind.get(kind, 0)
        agg = self.fs_by_kind.get(kind)
        if not n or agg is None:
            return {"calls": {m: 0.0 for m in FS_METHODS}, "busy_s": 0.0,
                    "bytes_put": 0.0, "manifest_bytes": 0.0}
        return {"calls": {m: agg["calls"].get(m, 0) / n for m in FS_METHODS},
                "busy_s": agg["busy_s"] / n,
                "bytes_put": agg["bytes_put"] / n,
                "manifest_bytes": agg["manifest_bytes"] / n}

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.spans:
                fh.write(json.dumps({k: v for k, v in rec.items()
                                     if k != "group"}) + "\n")
