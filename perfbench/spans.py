"""Layer spans for the traced run, recorded from the benchmark's side.

`Tracer.install()` replaces the engine's public per-layer entry points with
wrappers, for the duration of one call:

- ``stages``: ``stage12_fused``, ``stage3_candidates``, ``stage4_verify``,
  ``stage6_canonical`` (looked up by ``pipeline`` and ``incremental`` as
  ``stages.<name>``);
- ``cc``: the ``connected_components`` / ``connected_components_contracted``
  names imported by ``pipeline`` and ``incremental``;
- ``catalog``: ``Warehouse.write`` / ``replace`` / ``append_metrics`` /
  ``write_metrics_table``.

A tracer built with ``full=False`` wraps only the CC names and sets no job
groups. The untraced timed calls run under one, so every call records
which CC path the engine took.

Each wrapper records a span (name, layer, start, end, thread, parent; all
spans of one call share a run id) and sets the calling thread's Spark job
group to the span id. The stage functions are lazy, so their jobs run at
the caller's next action; the group stays on the thread until the next
wrapped call replaces it. A catalog write on a thread owned by a stage or
CC span materializes that span's lazy plan, so it keeps the owner's group;
writes elsewhere (the background commits) are tagged with their own
catalog span.

After the call, `harvest()` reads jobs and stages from Spark's status store
(the `statusStore()` path `dedup.spark_metrics.shuffle_totals` walks) and
attributes every job of the call to the span whose group it carries.
Spans stay in memory until `write()`. `overhead_s` is the time the
wrappers themselves spent (span bookkeeping and the job-group calls into
the JVM): the tracing overhead on the call, measured directly.
"""

from __future__ import annotations

import json
import threading
import time
import uuid

from dedup import catalog, incremental, pipeline, stages

STAGE_SPANS = {
    "stage12_fused": "signatures",
    "stage3_candidates": "candidates",
    "stage4_verify": "verify",
    "stage6_canonical": "canonical",
}
STAGE_NAMES = tuple(STAGE_SPANS.values())
CC_NAMES = ("connected_components", "connected_components_contracted")
#: the modules whose imported CC names the engine's entry points call
CC_OWNERS = (pipeline, incremental)
#: catalog methods that materialize a caller's lazy plan ("write" rule) or
#: only ever run catalog work of their own ("always")
CATALOG_METHODS = {
    "write": "write",
    "replace": "write",
    "append_metrics": "always",
    "write_metrics_table": "always",
}
_GROUP = "spark.jobGroup.id"


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, spark, full: bool = True):
        self.sc = spark.sparkContext
        self.full = full
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        # per thread: the span whose job group the thread carries, and the
        # wrapped calls still open on it (the innermost is a new span's parent)
        self._owner = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.root: dict | None = None
        self.overhead_s = 0.0

    def _charge(self, t0: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str, layer: str) -> dict:
        stack = getattr(self._owner, "open", None)
        parent = stack[-1] if stack else self.root
        with self._lock:
            span = {
                "run_id": self.run_id,
                "span_id": f"{self.run_id}.{len(self.spans)}",
                "parent": parent["span_id"] if parent else None,
                "name": name,
                "layer": layer,
                "thread": threading.current_thread().name,
                "start_ms": _now_ms(),
                "end_ms": None,
            }
            self.spans.append(span)
        return span

    def _tag(self, span: dict) -> None:
        self._owner.span = span
        if self.full:
            self.sc.setJobGroup(span["span_id"], span["name"])

    def _wrap(self, owner, attr: str, name: str, layer: str, tag: str) -> None:
        """Replace owner.attr. tag: "always" sets the job group; "write"
        keeps a stage/CC owner's group (see module docstring)."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            cur = getattr(tracer._owner, "span", None)
            span = tracer._open(name, layer)
            if not (tag == "write" and cur is not None and cur["layer"] in ("stages", "cc")):
                tracer._tag(span)
            stack = tracer._owner.__dict__.setdefault("open", [])
            stack.append(span)
            tracer._charge(t0)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end_ms"] = _now_ms()
                stack.pop()

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for owner in CC_OWNERS:
            for fn in CC_NAMES:
                if hasattr(owner, fn):
                    self._wrap(owner, fn, f"cc.{fn}", "cc", "always")
        if not self.full:
            return
        for fn, stage in STAGE_SPANS.items():
            self._wrap(stages, fn, stage, "stages", "always")
        for m, tag in CATALOG_METHODS.items():
            self._wrap(catalog.Warehouse, m, f"catalog.{m}", "catalog", tag)

    def cc_path(self) -> list[str]:
        """The CC entry points the call took, in call order."""
        return [s["name"].removeprefix("cc.") for s in self.spans if s["layer"] == "cc"]

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def call(self, name: str, fn, *args, **kwargs):
        """Run the root call under a root span; returns fn's result."""
        t0 = time.perf_counter()
        self.root = self._open(name, "pipeline")
        self._tag(self.root)
        self.install()
        self._charge(t0)
        try:
            return fn(*args, **kwargs)
        finally:
            self.root["end_ms"] = _now_ms()
            t0 = time.perf_counter()
            self.uninstall()
            self._owner.span = None
            if self.full:
                self.sc.setLocalProperty(_GROUP, None)
            self._charge(t0)

    # -- status-store harvest -------------------------------------------------
    def harvest(self) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) of this call from the status store: jobs carry
        their span's group, stages their first owning job."""
        sc, jvm, gw = self.sc, self.sc._jvm, self.sc._gateway
        store = sc._jsc.sc().statusStore()
        prefix = self.run_id + "."
        jobs = []
        jseq = store.jobsList(jvm.java.util.ArrayList())
        for i in range(jseq.length()):
            j = jseq.apply(i)
            grp = j.jobGroup()
            if not grp.isDefined() or not grp.get().startswith(prefix):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            ids = j.stageIds()
            jobs.append(
                {
                    "job_id": j.jobId(),
                    "span_id": grp.get(),
                    "start_ms": sub.get().getTime() if sub.isDefined() else None,
                    "end_ms": done.get().getTime() if done.isDefined() else None,
                    "stage_ids": [ids.apply(k) for k in range(ids.length())],
                    "failed_tasks": j.numFailedTasks(),
                }
            )
        jobs.sort(key=lambda r: r["job_id"])
        stage_job: dict[int, dict] = {}
        for job in jobs:
            for sid in job["stage_ids"]:
                stage_job.setdefault(sid, job)
        out = []
        sseq = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(sseq.length()):
            s = sseq.apply(i)
            job = stage_job.get(s.stageId())
            if job is None:
                continue
            out.append(
                {
                    "stage_id": s.stageId(),
                    "job_id": job["job_id"],
                    "span_id": job["span_id"],
                    "tasks": s.numCompleteTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "gc_ms": s.jvmGcTime(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "fetch_wait_ms": s.shuffleFetchWaitTime(),
                    "input_rows": s.inputRecords(),
                    "output_b": s.outputBytes(),
                }
            )
        return jobs, out

    def write(self, path: str, jobs: list[dict], stage_rows: list[dict]) -> None:
        with open(path, "w") as f:
            for kind, rows in (("span", self.spans), ("job", jobs), ("stage", stage_rows)):
                for r in rows:
                    f.write(json.dumps({"kind": kind, **r}) + "\n")


def union_ms(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(jobs: list[dict], layer_of) -> dict[str, float]:
    """Per layer, the time during which only that layer's jobs ran."""
    edges = []
    for j in jobs:
        if j["start_ms"] is not None and j["end_ms"] is not None:
            lay = layer_of(j["span_id"])
            edges += [(j["start_ms"], 1, lay), (j["end_ms"], -1, lay)]
    edges.sort(key=lambda e: (e[0], e[1]))
    active: dict[str, int] = {}
    out: dict[str, float] = {}
    prev = None
    for t, d, lay in edges:
        live = [k for k, n in active.items() if n > 0]
        if prev is not None and len(live) == 1:
            out[live[0]] = out.get(live[0], 0.0) + t - prev
        active[lay] = active.get(lay, 0) + d
        prev = t
    return out
