"""Spans around the engine's public functions, and Spark's own counters.

Tracing is used only in the traced run (``--trace 1``). ``Tracer.instrument``
wraps public methods and functions of the engine's modules in place, so each
call records a span ``(name, start, end, parent, thread)``; spans stay in
memory and are written out when the run ends. A span's self time is its
duration minus the time covered by its child spans.

``SparkCounters`` reads Spark's status REST API (the UI is enabled in the
traced run only) and attributes each job to the innermost span that was
open on any thread when the job was submitted.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager

#: (module path, attribute, span name): the layer boundaries that are wrapped.
#: ``table`` and ``fsutil`` functions are looked up at call time by the
#: engine (function-local imports), so patching the module attribute reaches
#: every caller.
_BOUNDARIES = (
    ("table", "KeyedTable.upsert", "table.upsert"),
    ("table", "DeltaLogTable.append_changes", "table.append"),
    ("table", "DeltaLogTable.compact", "table.compact"),
    ("table", "WriterLease.ensure", "table.lease"),
    ("table", "WriterLease.check", "table.lease"),
    ("table", "SchemaSidecar.current", "table.sidecar"),
    ("table", "SchemaSidecar.publish", "table.sidecar"),
    ("fsutil", "swap_table_dir", "fsutil.swap"),
    ("fsutil", "recover_table_swap", "fsutil.recover"),
    ("fsutil", "publish_commit", "fsutil.publish"),
    ("fsutil", "list_commits", "fsutil.list"),
)

_PACKAGE = "debezium_emr_hudi_deltastreamer_sample_spark"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def instrument(self) -> None:
        """Wrap every boundary in ``_BOUNDARIES`` (no-op when disabled)."""
        if not self.enabled:
            return
        import importlib

        for mod_name, attr, span_name in _BOUNDARIES:
            owner = importlib.import_module(f"{_PACKAGE}.{mod_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = owner.__dict__[leaf] if path else getattr(owner, leaf)
            self._patches.append((owner, leaf, original))
            setattr(owner, leaf, self.wrap(original, span_name))

    def restore(self) -> None:
        for owner, leaf, original in reversed(self._patches):
            setattr(owner, leaf, original)
        self._patches.clear()

    # -- analysis -------------------------------------------------------------

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → self time in seconds (duration minus the union of its
        children's intervals)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            end = s["end"] if s["end"] is not None else time.time()
            covered = 0.0
            cursor = s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                c_end = c["end"] if c["end"] is not None else end
                lo, hi = max(c["start"], cursor), min(c_end, end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (end - s["start"]) - covered
        return out

    def within(self, lo: float, hi: float) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["start"] >= lo and s["end"] is not None and s["end"] <= hi
        ]

    def innermost_at(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_overhead_s(n: int = 20000) -> float:
    """Cost of one traced call of a no-op function, in seconds."""
    t = Tracer(True)
    fn = t.wrap(lambda: None, "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    return (time.perf_counter() - t0) / n


def _gmt(ts: str | None) -> float | None:
    if not ts:
        return None
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class SparkCounters:
    """Per-job metrics from the status REST API of one running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        """One dict per finished job: submit/complete time and the summed
        metrics of its stages."""
        stages = {}
        for st in self._get("stages?status=complete"):
            stages.setdefault(st["stageId"], []).append(st)
        out = []
        for j in self._get("jobs"):
            if j.get("status") != "SUCCEEDED":
                continue
            rec = {
                "submit": _gmt(j.get("submissionTime")),
                "complete": _gmt(j.get("completionTime")),
                "tasks": j.get("numTasks", 0),
                "run_ms": 0,
                "cpu_ms": 0.0,
                "gc_ms": 0,
                "shuffle_write_bytes": 0,
                "output_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in j.get("stageIds", ()):
                for st in stages.get(sid, ()):
                    rec["run_ms"] += st.get("executorRunTime", 0)
                    rec["cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                    rec["gc_ms"] += st.get("jvmGcTime", 0)
                    rec["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    rec["output_bytes"] += st.get("outputBytes", 0)
                    rec["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                        "diskBytesSpilled", 0
                    )
            out.append(rec)
        return out
