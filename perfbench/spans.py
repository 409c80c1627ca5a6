"""Layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``Tracer.patch``
wraps a package entry point for the duration of one traced pass and puts
every patched attribute back afterwards. Each span tags the Spark jobs it
starts with its own job group, so the event log (written uncompressed)
attributes jobs, tasks, bytes and spill to spans. Spans stay in memory
until the run writes them out.

Spark executes lazily, so a span around a call that only builds a
DataFrame measures planning, not work. Where a layer hands a lazy result
to the next layer, the wrapper forces that result once with the noop
writer inside its own span; the consumer's self time is its span minus
that forced time.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end, self.attrs = time.perf_counter(), None, attrs

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self, run_id: str, t0: float) -> dict:
        return {"run": run_id, "id": self.id, "name": self.name,
                "parent": self.parent, "start": self.start - t0,
                "end": self.end - t0, **self.attrs}


class Tracer:
    """Records spans and tags the jobs each one starts with a job group
    named ``<run_id>:<span id>``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    def group(self, span: Span) -> str:
        return f"{self.run_id}:{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def patch(self, owner, attr: str, make_wrapper) -> None:
        """Replace ``owner.attr`` with ``make_wrapper(original)`` until
        ``restore``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, make_wrapper(original))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def descendants(self, root: Span) -> set[int]:
        """Ids of ``root`` and every span below it."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s.id)
        out, todo = set(), [root.id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids[sid])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict(self.run_id, self.t0)) + "\n")


class EventLog:
    """Per-span job, task and byte counts from an uncompressed Spark event
    log (one JSON event per line)."""

    def __init__(self, path: str, run_id: str):
        self.jobs: dict[int, list[int]] = defaultdict(list)   # span -> jobs
        self.tasks: dict[int, int] = defaultdict(int)          # span -> tasks
        self.bytes: dict[int, dict[str, int]] = defaultdict(
            lambda: defaultdict(int))
        stage_span: dict[int, int] = {}
        prefix = run_id + ":"
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    if not group.startswith(prefix):
                        continue
                    sid = int(group[len(prefix):])
                    self.jobs[sid].append(ev["Job ID"])
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    self.tasks[sid] += 1
                    m = ev.get("Task Metrics") or {}
                    b = self.bytes[sid]
                    b["input"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    b["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                           or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))

    def sum_jobs(self, span_ids) -> int:
        return sum(len(self.jobs.get(s, ())) for s in span_ids)

    def sum_tasks(self, span_ids) -> int:
        return sum(self.tasks.get(s, 0) for s in span_ids)

    def sum_bytes(self, span_ids, key: str) -> int:
        return sum(self.bytes[s][key] for s in span_ids if s in self.bytes)

    def total_bytes(self, key: str) -> int:
        return sum(b[key] for b in self.bytes.values())
