"""Spans, Spark job groups and the status-store reader behind the traced run.

A span is recorded around each call into a layer of the package, from the
benchmark's side of the call. Each span runs under its own Spark job group,
so every Spark job (and through it every stage) can be charged to the
innermost span it ran in. Spans stay in memory and are written out once, at
exit.

Inside ``run_rollup_pipeline`` the stages are not separate calls, so the
pipeline is cut into segments instead: a segment opens when the pipeline
starts and after each catalog write, and is named after the table the next
write produces. A stage's segment thus holds its snapshot diff, its
planning and its write. Retention gets its own span. Whatever runs after
the last write (the blocks compression ratio, the diffs of skipped stages)
is charged to the last stage written.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Any, Iterator


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op and no
    job group is ever set, so untimed and timed runs execute the same
    Spark jobs."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._segment: dict[str, Any] | None = None
        self._last_stage: str | None = None

    # -- spans -----------------------------------------------------------
    def _open(self, name: str) -> dict[str, Any]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        rec["group"] = f"{self.run_id}.{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        return rec

    def _close(self, rec: dict[str, Any]) -> None:
        rec["end"] = time.perf_counter()
        popped = self._stack.pop()
        if popped is not rec:
            raise RuntimeError(f"span {rec['name']} closed out of order")
        if self._stack:
            self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict[str, Any] | None]:
        if not self.enabled:
            yield None
            return
        rec = self._open(name)
        try:
            yield rec
        finally:
            self._close(rec)

    # -- pipeline segments ---------------------------------------------
    @contextlib.contextmanager
    def pipeline(self) -> Iterator[None]:
        """Span the whole pipeline call and cut it into stage segments."""
        with self.span("pipeline.run"):
            if not self.enabled:
                yield
                return
            self._last_stage = None
            self._segment = self._open("stage.?")
            try:
                yield
            finally:
                self._end_segment()

    def _end_segment(self) -> None:
        seg, self._segment = self._segment, None
        if seg is None:
            return
        if seg["name"] == "stage.?":
            seg["name"] = (
                f"stage.{self._last_stage}" if self._last_stage else "pipeline.plan"
            )
        self._close(seg)

    def name_segment(self, table: str) -> bool:
        """Called on a catalog write: names the open segment after the
        table. False when no pipeline segment is open (e.g. ingest)."""
        if self._segment is None:
            return False
        self._segment["name"] = f"stage.{table}"
        self._last_stage = table
        return True

    def next_segment(self) -> None:
        self._end_segment()
        self._segment = self._open("stage.?")

    @contextlib.contextmanager
    def outside_segment(self, name: str) -> Iterator[None]:
        """A span that is a sibling of the stage segments (retention)."""
        if self._segment is None:
            with self.span(name):
                yield
            return
        self._end_segment()
        try:
            with self.span(name):
                yield
        finally:
            self._segment = self._open("stage.?")

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextlib.contextmanager
def instrumented(tracer: Tracer, cat) -> Iterator[None]:
    """Wrap the package's public calls on ``cat`` and in the pipeline
    module with spans for as long as the context is open. Does nothing
    when tracing is off or there is no catalog."""
    if not tracer.enabled or cat is None:
        yield
        return
    from isp_trace_parser_spark import pipeline

    orig_write, orig_read, orig_commit = cat.write, cat.read, cat.commit_snapshot
    orig_state, orig_retention = pipeline.partition_state, pipeline.apply_retention

    def write(df, name, *a, **k):
        if tracer.name_segment(name):
            try:
                return orig_write(df, name, *a, **k)
            finally:
                tracer.next_segment()
        with tracer.span(f"stage.{name}"):
            return orig_write(df, name, *a, **k)

    def read(*a, **k):
        with tracer.span("catalog.read"):
            return orig_read(*a, **k)

    def commit_snapshot(*a, **k):
        with tracer.span("catalog.commit"):
            return orig_commit(*a, **k)

    def partition_state(*a, **k):
        with tracer.span("pipeline.diff"):
            return orig_state(*a, **k)

    def apply_retention(*a, **k):
        with tracer.outside_segment("retention.apply"):
            return orig_retention(*a, **k)

    cat.write, cat.read, cat.commit_snapshot = write, read, commit_snapshot
    pipeline.partition_state, pipeline.apply_retention = partition_state, apply_retention
    try:
        yield
    finally:
        del cat.write, cat.read, cat.commit_snapshot
        pipeline.partition_state = orig_state
        pipeline.apply_retention = orig_retention


# ------------------------------------------------------------ status store
def read_status_store(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and the last attempt of every stage from Spark's status
    store, as plain dicts. Works with ``spark.ui.enabled=false``. The
    listener bus is drained first so jobs that just ended are present.
    Both lists cross py4j once each, serialised to JSON on the JVM side."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stage_list = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
    stages: dict[int, dict] = {}
    for st in json.loads(mapper.writeValueAsString(stage_list)):
        prev = stages.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            stages[st["stageId"]] = st
    return jobs, stages


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def group_costs(jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Executor-side cost per job group. A stage shared by several jobs
    (a reused shuffle) ran once and is charged once, to the first job that
    lists it; skipped stages cost nothing. ``critical_s`` is the union of
    the group's stage run intervals, the time some stage was running."""
    seen: set[int] = set()
    out: dict[str, dict] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup")
        if group is None:
            continue
        acc = out.setdefault(
            group,
            {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "bytes_written": 0},
        )
        acc["jobs"] += 1
        for sid in job.get("stageIds", []):
            st = stages.get(sid)
            if sid in seen or st is None or st.get("status") == "SKIPPED":
                continue
            seen.add(sid)
            acc["stages"] += 1
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
            acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            acc["spill_bytes"] += st.get("diskBytesSpilled", 0)
            acc["bytes_written"] += st.get("outputBytes", 0)
            if st.get("submissionTime") is not None and st.get("completionTime") is not None:
                intervals.setdefault(group, []).append(
                    (st["submissionTime"] / 1000.0, st["completionTime"] / 1000.0)
                )
    for group, acc in out.items():
        acc["critical_s"] = _union_length(intervals.get(group, []))
    return out


def subtree_costs(spans: list[dict], costs: dict[str, dict]) -> dict[int, dict]:
    """Roll each span's own job-group costs up into every ancestor, so a
    span's figure covers everything that ran while it was open."""
    by_id = {s["id"]: s for s in spans}
    keys = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
            "spill_bytes", "bytes_written", "critical_s")
    out = {s["id"]: dict.fromkeys(keys, 0) for s in spans}
    for s in spans:
        own = costs.get(s["group"])
        if own is None:
            continue
        node = s
        while node is not None:
            acc = out[node["id"]]
            for k in keys:
                acc[k] += own[k]
            node = by_id.get(node["parent"])
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
        for s in spans
    }
