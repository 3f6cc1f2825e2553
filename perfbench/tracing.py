"""Spans for the traced run, kept in memory until the run ends.

Three sources feed one span list:

* the benchmark wraps its own calls into each layer's public functions
  (:meth:`Tracer.span`);
* :class:`ProgressListener` collects ``StreamingQueryProgress`` events,
  which :meth:`Tracer.add_trigger` turns into a trigger span with its
  ``durationMs`` phases laid out as children;
* :meth:`Tracer.add_puts` adds the put spans the sink logged, each
  parented to the ``addBatch`` phase it ran in.

A layer's self time is its spans' durations minus the part of each
span that its children cover.
"""

from __future__ import annotations

import datetime
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

# MicroBatchExecution runs these phases in this order within a trigger.
PHASES = (
    ("latestOffset", "streaming.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "streaming.get_batch"),
    ("queryPlanning", "streaming.planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, parent=None, trace="") -> Span:
        s = Span(next(self._ids), name, start, end, parent, trace)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name, parent=None, trace=""):
        s = self.add(name, time.time(), 0.0, parent, trace)
        try:
            yield s
        finally:
            s.end = time.time()

    def add_trigger(self, progress: dict, parent: Span) -> Span:
        """A trigger span from one progress record, with its phases as
        sequential children. Returns the trigger span."""
        dur = progress["durationMs"]
        start = progress["start"]
        trig = self.add("streaming.trigger", start,
                        start + dur.get("triggerExecution", 0) / 1000.0,
                        parent.sid, parent.trace)
        t = start
        for key, name in PHASES:
            if key in dur:
                self.add(name, t, t + dur[key] / 1000.0, trig.sid, parent.trace)
                t += dur[key] / 1000.0
        return trig

    def add_puts(self, puts, triggers: list[Span], fallback: Span):
        """Put spans, parented to the addBatch phase whose interval
        holds the put's start (progress times have ms resolution)."""
        batches = sorted(
            (s for s in self.spans
             if s.name == "streaming.add_batch" and s.parent in {t.sid for t in triggers}),
            key=lambda s: s.start,
        )
        for p in puts:
            parent = next(
                (b for b in batches if b.start - 0.002 <= p["t0"] <= b.end + 0.002),
                fallback,
            )
            self.add("sinks.put", p["t0"], p["t1"], parent.sid, parent.trace)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            ivs = sorted(
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.sid, ())
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps the progress of every trigger that ran a batch, as plain
    dicts. Callbacks arrive on a py4j thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self.records: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        dur = dict(p.durationMs or {})
        if "addBatch" not in dur:
            return
        rec = {
            "run_id": str(p.runId),
            "batch_id": int(p.batchId),
            "start": _epoch(p.timestamp),
            "durationMs": dur,
            "rows": int(p.numInputRows),
        }
        with self._lock:
            self.records.append(rec)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def for_run(self, run_id: str, at_least: int = 0, timeout_s: float = 10.0) -> list[dict]:
        """Progress of one query run, waiting up to ``timeout_s`` for
        ``at_least`` records (the listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = sorted((r for r in self.records if r["run_id"] == run_id),
                             key=lambda r: r["batch_id"])
            if len(got) >= at_least or time.monotonic() > deadline:
                return got
            time.sleep(0.05)
