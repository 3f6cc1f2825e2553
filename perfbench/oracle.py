"""Independent reference of the routing semantics, and the delivery check.

Written from the reference service's rules, not from the Spark code:

* V3: only ``msg_type == 4`` (SimpleEvent) is accepted;
* V7: a null ``dest`` or ``source`` is rejected;
* R2: a filter's event regexes are searched (unanchored) in ``dest``
  with a leading ``event:`` stripped; any match passes;
* R3: if the filter has device regexes, one of them must also match the
  source or the stripped dest;
* R4: a literal ``.*`` among the device regexes clears the list.

Deliveries are credited to the filter whose stream list (primary, then
alt streams) holds the stream they landed on, so a failover to ``-alt``
is still a delivery of that filter.
"""

from __future__ import annotations

import os
import re
from collections import Counter

try:  # four times faster on the hundreds of thousands of records a run checks
    from orjson import loads
except ImportError:
    from json import loads

from perfbench.workloads import EID_KEY


class Reference:
    def __init__(self, filters):
        self.filters = []
        self.owner = {}  # delivered stream -> filter stream
        for fc in filters:
            events = [re.compile(p) for p in fc.events]
            devices = [] if ".*" in fc.device_ids else [re.compile(p) for p in fc.device_ids]
            self.filters.append((fc.stream_name, events, devices))
            for s in (fc.stream_name, *fc.alt_streams):
                self.owner[s] = fc.stream_name

    def streams_for(self, msg_type, source, dest) -> list[str]:
        if msg_type != 4 or source is None or dest is None:
            return []
        stripped = dest[len("event:"):] if dest.startswith("event:") else dest
        out = []
        for name, events, devices in self.filters:
            if not any(r.search(stripped) for r in events):
                continue
            if devices and not any(r.search(source) or r.search(stripped) for r in devices):
                continue
            out.append(name)
        return out

    def expected(self, refs) -> Counter:
        """Multiset of (filter stream, eid) the pipeline must deliver."""
        exp = Counter()
        for eid, msg_type, source, dest in refs:
            for s in self.streams_for(msg_type, source, dest):
                exp[(s, eid)] += 1
        return exp


def read_deliveries(sink_root: str, by_eid: dict, owner: dict):
    """Walk ``<sink_root>/<put dir>/<stream>/*.jsonl``.

    Returns ``(deliveries, bad, put_dirs)``: the Counter of
    (filter stream, eid) delivered, the number of records whose content
    does not match the generated event after enrichment, and for each
    put dir the list of eids it held (for latency)."""
    got = Counter()
    bad = 0
    put_dirs = {}
    if not os.path.isdir(sink_root):
        return got, bad, put_dirs
    for sub in os.listdir(sink_root):
        eids = put_dirs.setdefault(sub, [])
        sub_path = os.path.join(sink_root, sub)
        for stream in os.listdir(sub_path):
            owner_stream = owner.get(stream, "?" + stream)
            sdir = os.path.join(sub_path, stream)
            for fn in os.listdir(sdir):
                if not fn.endswith(".jsonl"):
                    continue
                with open(os.path.join(sdir, fn)) as f:
                    for line in f:
                        rec = loads(line)
                        ev = loads(rec["data"])
                        eid = int(ev["metadata"][EID_KEY])
                        ref = by_eid.get(eid)
                        if (
                            ref is None
                            or ev["msg_type"] != 4
                            or ev["source"] != ref[2]
                            or ev["dest"] != ref[3]
                            or rec["partition_key"] != ev["session_id"]
                            or not ev["transaction_uuid"]
                            or not ev["content_type"]
                        ):
                            bad += 1
                        got[(owner_stream, eid)] += 1
                        eids.append(eid)
    return got, bad, put_dirs


def compare(expected: Counter, got: Counter) -> dict:
    """Missing, duplicated and misrouted deliveries of one run part."""
    missing = dup = misrouted = 0
    for key in expected.keys() | got.keys():
        e, d = expected.get(key, 0), got.get(key, 0)
        if e == 0:
            misrouted += d
        elif d < e:
            missing += e - d
        else:
            dup += d - e
    return {"expected": sum(expected.values()), "missing": missing,
            "duplicated": dup, "misrouted": misrouted}
