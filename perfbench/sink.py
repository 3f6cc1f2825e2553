"""The benchmark's sink: the repo's ``DirSender`` in the role of Kinesis,
with seeded throttling and a put log.

Runs inside Spark's Python workers (``route_and_deliver`` builds one
sender per partition), so it imports nothing heavy. Each successful put
goes to its own ``DirSender`` root ``<root>/<instance>-<seq>/``, which
links the files it wrote to the put-log line that timed it. The put log
is one JSON line per put attempt in ``<log_dir>/<instance>.jsonl``; the
benchmark reads it after the run for latency, put metrics and put spans.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import zlib

from xmidt_event_streams_spark.sinks.writer import DirSender, Sender

_EID_RE = re.compile(r'"/perfbench-eid":"(\d+)"')


class ThrottledError(IOError):
    """The sink refused a put, as Kinesis does with
    ProvisionedThroughputExceededException."""


class BenchSender(Sender):
    def __init__(self, root, log_dir, seed, throttled, share):
        self.root = root
        self.seed = seed
        self.throttled = throttled
        self.share_bp = int(share * 10_000)
        self.inst = f"{os.getpid()}-{uuid.uuid4().hex[:12]}"
        self.log_path = os.path.join(log_dir, f"{self.inst}.jsonl")
        self.seq = 0
        self.attempts: dict[tuple, int] = {}

    def _throttle(self, items, stream) -> tuple[bool, int]:
        """Seeded, per attempt: a retried chunk is a new attempt with
        its own draw, so retries can succeed. Returns (throttled,
        attempt number of this chunk on this stream)."""
        if stream not in self.throttled:
            return False, 0
        m = _EID_RE.search(items[0][1])
        key = (stream, m.group(1) if m else "", len(items))
        attempt = self.attempts.get(key, 0)
        self.attempts[key] = attempt + 1
        draw = zlib.crc32(f"{self.seed}|{key}|{attempt}".encode()) % 10_000
        return draw < self.share_bp, attempt

    def put_records(self, items, stream):
        t0 = time.time()
        seq = self.seq
        self.seq += 1
        sub = f"{self.inst}-{seq}"
        throttled, attempt = self._throttle(items, stream)
        ok = not throttled
        if ok:
            DirSender(os.path.join(self.root, sub)).put_records(items, stream)
        t1 = time.time()
        with open(self.log_path, "a") as f:
            f.write(
                json.dumps(
                    {"dir": sub, "stream": stream, "n": len(items),
                     "t0": t0, "t1": t1, "ok": ok, "attempt": attempt}
                )
                + "\n"
            )
        if not ok:
            raise ThrottledError(f"{stream}: throughput exceeded")
        return 0


class BenchSenderFactory:
    """Picklable zero-arg factory, shipped to executors by import path."""

    def __init__(self, root, log_dir, seed, throttled, share):
        self.args = (root, log_dir, seed, frozenset(throttled), share)

    def __call__(self) -> BenchSender:
        return BenchSender(*self.args)


def read_put_log(log_dir: str) -> list[dict]:
    out = []
    for fn in os.listdir(log_dir):
        with open(os.path.join(log_dir, fn)) as f:
            out.extend(json.loads(line) for line in f)
    return out
