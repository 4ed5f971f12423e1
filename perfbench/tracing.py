"""Tracing for the ``--trace 1`` run, built from the benchmark's own files.

Spans come from wrapping the engine's public functions at the binding the
caller uses (``operators.convert`` imports ``read_ndjson_parallel`` and
``rewrite_dt_fields`` by name, so those are patched inside
``operators.convert``).  py4j round trips are counted by wrapping
``GatewayClient.send_command``.  Stage metrics come from a Spark event log
that only this run turns on; jobs are attributed to the operation that was
running when they were submitted (``setJobGroup`` names it).
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, operation) and a py4j
    call counter.  Spans are written out only when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.op: str | None = None
        self._lock = threading.Lock()
        self._main_stack: list[dict] = []
        self._local = threading.local()
        self._next_id = 0
        self._restore: list[tuple] = []

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A span opened on another thread (a py4j callback such as a
        # streaming foreachBatch) belongs under whatever the main thread
        # is doing at the time.
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        calls0 = self.py4j_calls
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j_calls - calls0
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a function that records a span named
        ``name`` around the original; ``on_call(args, kwargs, result, span)``
        may add fields to the span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(args, kwargs, result, rec)
                return result

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def count_py4j(self, client_cls) -> None:
        orig = client_cls.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            with tracer._lock:
                tracer.py4j_calls += 1
            return orig(client, *args, **kwargs)

        client_cls.send_command = send_command
        self._restore.append((client_cls, "send_command", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap one another, e.g. on two threads)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


STAGE_FIELDS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes")


def _task_metrics(m: dict) -> dict:
    read = m.get("Shuffle Read Metrics", {})
    return {
        "task_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_bytes": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def stage_metrics_by_op(eventlog_dir: str, ops: list[dict]) -> dict[str, dict]:
    """Jobs, stages, tasks and summed task metrics per operation, from the
    uncompressed, non-rolling event logs under ``eventlog_dir``.

    ``ops`` holds ``{"id", "wall_start", "wall_end"}`` (epoch seconds).  A
    job belongs to the op named by its job group; a job submitted under
    another group (a streaming query runs its batches under the query's
    run id) belongs to the op whose interval contains its submission."""
    by_id = {op["id"]: op for op in ops}
    stage_op: dict[tuple[str, int], str] = {}
    out = {op["id"]: {"jobs": 0, "stages": 0, "tasks": 0, **dict.fromkeys(STAGE_FIELDS, 0)} for op in ops}
    submitted, task_ends = [], []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    op = by_id.get(group)
                    if op is None:
                        t = ev["Submission Time"] / 1000.0
                        op = next((o for o in ops if o["wall_start"] <= t <= o["wall_end"]), None)
                    if op is None:
                        continue
                    out[op["id"]]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_op[(path, sid)] = op["id"]
                elif kind == "SparkListenerStageSubmitted":
                    submitted.append((path, ev["Stage Info"]["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append((path, ev))
    # a job lists stages it may skip (shuffle output reused); count the run ones
    for key in submitted:
        if key in stage_op:
            out[stage_op[key]]["stages"] += 1
    for path, ev in task_ends:
        op_id = stage_op.get((path, ev["Stage ID"]))
        if op_id is None:
            continue
        agg = out[op_id]
        agg["tasks"] += 1
        for k, v in _task_metrics(ev.get("Task Metrics") or {}).items():
            agg[k] += v
    return out
