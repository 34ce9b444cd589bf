"""Spans and per-layer probes for the traced run.

Spans are recorded in both modes (a few clock reads per request).  The
probes — Spark's status store, a streaming listener and ``/proc`` — run
only when tracing is on, each inside its own ``trace`` span so that
layer self times exclude them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent and the id shared
    by the spans of one request."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "trace": parent["trace"] if parent else len(self.spans),
             "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter() - self.t0

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    def self_time(self, s: dict) -> float:
        """Span duration minus the part its children cover (children
        run one after another, never overlapping)."""
        return (s["end"] - s["start"]) - sum(
            c["end"] - c["start"] for c in self.children(s))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def proc_sample(jvm_pid: int) -> dict:
    """CPU of the Python workers (the JVM's descendants; reaped workers
    are in their parent's cutime/cstime) and storage I/O bytes of the
    JVM and its workers."""
    tick = os.sysconf("SC_CLK_TCK")
    py_cpu = 0.0
    rd = wr = 0
    for pid in [jvm_pid] + _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
        except (OSError, ValueError):
            continue  # a worker that exited between listing and reading
        if pid != jvm_pid:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            py_cpu += sum(int(x) for x in fields[11:15]) / tick
        rd += int(io["read_bytes"])
        wr += int(io["write_bytes"])
    return {"py_cpu_s": py_cpu, "read_b": rd, "write_b": wr}


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class SparkProbe:
    """Per-request Spark counts, read right after each call.

    Jobs are matched by job group: the request's own group, plus the
    run ids of the streams it started (a stream's micro-batch jobs run
    on the stream's thread, whose job group is its run id).  Stage data
    comes from one ``stageList`` read serialised to JSON in the JVM.

    The status store keeps only the most recent jobs and stages (the
    session retains 50 of each), so a request with more of either is
    cut short; ``read`` reports such a request as truncated."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, to the status store and to the streaming listener."""
        self._bus.waitUntilEmpty()

    def _json(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def read(self, groups: set[str], t0_ms: float) -> dict:
        all_jobs = self._json(self._store.jobsList(self._empty))
        jobs = [j for j in all_jobs if j.get("jobGroup") in groups]
        ids = {s for j in jobs for s in j["stageIds"]}
        all_stages = [s for s in self._json(self._store.stageList(
            self._empty, False, False, self._quantiles, self._empty))
            if s["status"] == "COMPLETE"]
        stages = [s for s in all_stages if s["stageId"] in ids]
        # the store drops skipped stages first, then jobs and stages in
        # order of completion; while it still holds a job and a stage
        # that completed before the request, none of the request's
        # jobs or completed stages is gone
        truncated = not all(
            any((x.get("completionTime") or t0_ms) < t0_ms for x in xs)
            for xs in (all_jobs, all_stages))
        return {
            "truncated": int(truncated),
            "jobs": [(j["submissionTime"], j.get("completionTime")
                      or j["submissionTime"]) for j in jobs],
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_b": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_b": sum(s["shuffleReadBytes"] for s in stages),
            "fetch_wait_s": sum(s["shuffleFetchWaitTime"]
                                for s in stages) / 1e3,
            "spill_b": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
            "input_b": sum(s["inputBytes"] for s in stages),
        }


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def stream_listener(spark):
    """Register a StreamingQueryListener that keeps every progress
    event; returns (listener, events)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.append({"kind": "start", "run_id": str(event.runId)})

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            d = p.get("durationMs", {})
            events.append({
                "kind": "progress",
                "trigger_ms": d.get("triggerExecution", 0),
                "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0)
                + sum(s.get("commitTimeMs", 0)
                      for s in p.get("stateOperators", []))})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            events.append({"kind": "end"})

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, events
