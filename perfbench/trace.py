"""Spans and Spark job/stage accounting for the traced benchmark run.

A span is one call into a layer of the engine: name, layer, start, end,
parent. Each operation runs under its own Spark job group; after it ends,
its jobs are found by group id, each job is given to the innermost span
open when the job was submitted, and the job's stages are read from the
application status store (``executorRunTime``, ``jvmGcTime``, shuffle and
spill bytes, ``peakExecutionMemory``). Spans are kept in memory and
written out when the run ends.

With tracing off, ``span`` is a no-op context manager: the untraced run
sets no job groups and reads no status.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

_MB = 1024 * 1024
_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "jvmGcTime", "inputBytes", "inputRecords", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "peakExecutionMemory",
)


class Tracer:
    """Records spans for one benchmark run. ``enabled`` may be flipped
    between passes, so a traced run can also time untraced passes."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.pass_no = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: tuple[str, str] | None = None
        self._pending: list[dict] = []
        self._group: str | None = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def innermost_layer(self) -> str | None:
        return self._stack[-1]["layer"] if self._stack else None

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "pass": self.pass_no,
            "op": self._op[0] if self._op else None,
            "kind": self._op[1] if self._op else None,
            "layer": layer,
            "name": name,
            "jobs": 0,
            "stages": [],
        }
        self.spans.append(rec)
        self._pending.append(rec)
        self._stack.append(rec)
        if parent is None:
            self._group = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(self._group, name)
        rec["start"] = time.perf_counter()
        rec["wall_ms"] = time.time() * 1000
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def op(self, name: str, kind: str):
        """The top-level span of one timed operation."""
        self._op = (name, kind)
        with self.span("op", name):
            yield

    def note(self, key: str, n: int) -> None:
        """Add ``n`` to counter ``key`` of the innermost open span."""
        if self.enabled and self._stack:
            rec = self._stack[-1]
            rec[key] = rec.get(key, 0) + n

    def wrap(self, layer: str, fn):
        """``fn`` with every call recorded as a span of ``layer``."""
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def settle(self) -> None:
        """Attach job and stage metrics to the spans closed since the last
        call. Run outside the timed region, after each operation."""
        if not self._pending:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        for j in sorted(self.sc.statusTracker().getJobIdsForGroup(self._group)):
            job = store.job(j)
            submitted = job.submissionTime()
            at = submitted.get().getTime() if submitted.isDefined() else None
            owner = self._owner(at)
            owner["jobs"] += 1
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "SKIPPED":
                    owner["stages"].append({f: getattr(sd, f)() for f in _STAGE_FIELDS})
        self._pending = []

    def _owner(self, at_ms: float | None) -> dict:
        """The innermost pending span open at ``at_ms`` (the operation's
        top-level span when no time is known)."""
        best = self._pending[0]
        if at_ms is None:
            return best
        for rec in self._pending[1:]:  # parent-first, so later = deeper
            if rec["wall_ms"] <= at_ms <= rec["wall_end_ms"]:
                best = rec
        return best

    def dump(self, path: str, extra: dict) -> None:
        """Write ``extra`` plus the self time of every layer as the first
        line, then one line per span."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        own = {s["id"]: self_time(s, kids.get(s["id"], [])) for s in self.spans}
        layer_self: dict[str, float] = {}
        for s in self.spans:
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + own[s["id"]]
        with open(path, "w") as f:
            f.write(json.dumps({**extra, "layer_self_s": layer_self}) + "\n")
            for s in self.spans:
                out = {k: v for k, v in s.items() if not k.startswith("wall")}
                out["start"] = round(s["start"] - t0, 6)
                out["end"] = round(s["end"] - t0, 6)
                out["self_s"] = round(own[s["id"]], 6)
                f.write(json.dumps(out) + "\n")


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(rec: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    return (rec["end"] - rec["start"]) - covered(
        [(max(c["start"], rec["start"]), min(c["end"], rec["end"])) for c in children]
    )


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span below it."""
    ids, out = {root["id"]}, [root]
    for s in spans:  # spans are recorded parent-first
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def stage_totals(spans: list[dict]) -> dict[str, float]:
    """Job, stage, task and byte counts over the jobs each span started
    itself (a job belongs to the innermost span open when it ran)."""
    tot = dict.fromkeys(("jobs", "stages", "tasks", "task_s", "gc_s", "input_mb", "input_rows",
                         "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                         "peak_exec_mem_mb"), 0.0)
    for s in spans:
        tot["jobs"] += s.get("jobs", 0)
        for st in s.get("stages", ()):
            tot["stages"] += 1
            tot["tasks"] += st["numTasks"]
            tot["task_s"] += st["executorRunTime"] / 1000
            tot["gc_s"] += st["jvmGcTime"] / 1000
            tot["input_mb"] += st["inputBytes"] / _MB
            tot["input_rows"] += st["inputRecords"]
            tot["shuffle_read_mb"] += st["shuffleReadBytes"] / _MB
            tot["shuffle_write_mb"] += st["shuffleWriteBytes"] / _MB
            tot["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / _MB
            tot["peak_exec_mem_mb"] = max(tot["peak_exec_mem_mb"], st["peakExecutionMemory"] / _MB)
    return tot
