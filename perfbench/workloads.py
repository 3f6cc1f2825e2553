"""Seeded WRP traffic and the routing configs of each workload.

Everything here is a pure function of the seed: the same seed gives the
same events, byte for byte. Each generated event carries its generator
id in WRP ``metadata`` under :data:`EID_KEY`, because ``fix_wrp``
rewrites empty transaction ids with ``uuid()`` and so the transaction id
cannot identify an event after delivery.
"""

from __future__ import annotations

import base64
import bisect
import itertools
import json
import random
from dataclasses import dataclass, replace

from xmidt_event_streams_spark.config import DEFAULT_FILTERS, FilterConfig

EID_KEY = "/perfbench-eid"

# The traffic mix. No source in the repo gives one, so what is not
# sourced below is an assumption, chosen so that every routing rule and
# every repair path runs, and marked as such.
#
# Event types: the three of the reference test corpus (FIXTURES.md §1:
# device-status with online/offline, system-update, boot-time) plus the
# four that DEFAULT_FILTERS routes (purchase, checkout, click, view).
# Equal weights: assumption.
EVENT_TYPES = (
    "device-status", "system-update", "boot-time",
    "purchase", "checkout", "click", "view",
)
# "checkout-page" makes some click/view events match the unanchored
# "checkout" regex of DEFAULT_FILTERS, as the reference semantics say.
SUBTYPES = ("online", "offline", "status", "1", "checkout-page")
HW_MODELS = ("TG3482G", "CGM4331COM", "XB7", "XB8", "SR203")
FW_NAMES = ("prod-23.2", "prod-23.4", "prod-24.1", "beta-24.2")
REASONS = ("operator", "idle-timeout", "reboot", "ping-miss", "unknown")

# Device population: zipf over device rank, flat enough that no device
# dominates (the top device sends 1.2 % of events, the top ten 4.8 %)
# while the head still gives the partition-key hot spots FIXTURES.md
# asks for. Size and exponent: assumption.
N_DEVICES = 50_000
ZIPF_S = 0.7
# Device roles are fixed by rank, not drawn, so the share of traffic
# each stream receives is the same for every seed. DEFAULT_FILTERS
# routes click/view only from devices matching "user-1.*", so some
# devices carry a user-<5 digits> id in the dest: ranks r with
# r % 5 < 2 (40 %, assumption), and of those the ranks r % 45 in
# USER1_RANKS (1 in 9, as for uniform 5-digit numbers) start with 1.
USER_ID_RANKS = 5, 2
USER1_RANKS = 45, (21, 40)

REJECT_SHARE = 0.02  # msg_type != 4 (V3); assumption
NULL_SOURCE_SHARE = 0.002  # V7; assumption
NULL_DEST_SHARE = 0.002  # V7; assumption
EMPTY_TXN_SHARE = 0.10  # fix_wrp fills uuid(); FIXTURES.md §1
EMPTY_CT_SHARE = 0.10  # fix_wrp fills application/json; FIXTURES.md §1

THROTTLE_SHARE = 0.4  # share of put attempts the sink throttles; assumption

# drain_failover: DEFAULT_FILTERS with an alt stream on every filter, and
# every primary throttled, so retries and failovers run on each stream.
FAILOVER_FILTERS = tuple(replace(fc, alt_streams=(f"{fc.stream_name}-alt",)) for fc in DEFAULT_FILTERS)

# drain_wide_fanout: 7 event types x 2 device halves = 14 streams.
WIDE_HALVES = ("[0-7]", "[89a-f]")
WIDE_THROTTLED = "click-h0"


def wide_filters() -> tuple[FilterConfig, ...]:
    """14 streams: one per (event type, device half). Each has an
    anchored event regex and a device regex on the source's last hex
    digit, so every accepted event matches exactly one stream."""
    out = []
    for etype in EVENT_TYPES:
        for h, cls in enumerate(WIDE_HALVES):
            name = f"{etype}-h{h}"
            out.append(
                FilterConfig(
                    stream_name=name,
                    events=(f"^{etype}/",),
                    device_ids=(f"^mac:[0-9a-f]{{11}}{cls}$",),
                    alt_streams=(f"{name}-alt",) if name == WIDE_THROTTLED else (),
                )
            )
    return tuple(out)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    filters: tuple[FilterConfig, ...]
    throttled: frozenset
    kind: str  # "drain" | "open_loop"
    round_events: int = 0  # drain: backlog events per drain round
    round_files: int = 0  # drain: files the backlog is split into
    # drain: a run measures max(1, round(--seconds / round_seconds))
    # rounds after its warm-up rounds, so every run of a workload with
    # the same --seconds does the same work
    round_seconds: float = 0.0
    # drain: rounds drained before measuring, until the JIT has settled
    # and round times are flat (the per-job cost of a wide fan-out
    # needs none)
    warm_rounds: int = 0
    rate: float = 0.0  # open loop: offered events per second
    file_events: int = 0  # open loop: events per published file
    trigger_seconds: float = 0.0  # open loop: processing-time trigger


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="drain_default",
            why="per-event cost (decode, enrich, to_json, the Python row loop, "
            "puts, retries): 50k-event backlog drained with availableNow under "
            "the 3 DEFAULT_FILTERS; assumed traffic mix",
            filters=DEFAULT_FILTERS,
            throttled=frozenset({"engagement-stream"}),
            kind="drain",
            round_events=50_000,
            round_files=8,
            round_seconds=5.0,
            warm_rounds=3,
        ),
        Workload(
            name="drain_failover",
            why="sink retry and failover cost: drain_default's backlog and "
            "filters, each filter given an alt stream, 40% of put attempts "
            "on every primary throttled; assumed traffic mix",
            filters=FAILOVER_FILTERS,
            throttled=frozenset(fc.stream_name for fc in DEFAULT_FILTERS),
            kind="drain",
            round_events=50_000,
            round_files=8,
            round_seconds=5.0,
            warm_rounds=3,
        ),
        Workload(
            name="drain_wide_fanout",
            why="job dispatch: 6k-event backlog under 14 streams (7 event types "
            "x 2 device halves), one Spark job per filter per batch; assumed "
            "traffic mix",
            filters=wide_filters(),
            throttled=frozenset({WIDE_THROTTLED}),
            kind="drain",
            round_events=6_000,
            round_files=8,
            round_seconds=8.0,
        ),
        Workload(
            name="open_loop_steady",
            why="per-trigger fixed cost sets latency: open loop at 400 events/s "
            "in 20-event files every 50 ms, 0.5 s processing-time trigger, "
            "the 3 DEFAULT_FILTERS; assumed traffic mix",
            filters=DEFAULT_FILTERS,
            throttled=frozenset({"engagement-stream"}),
            kind="open_loop",
            rate=400.0,
            file_events=20,
            trigger_seconds=0.5,
        ),
    )
}


class Traffic:
    """Seeded WRP event generator over a zipf-skewed device population.

    Events are JSON lines; the per-device part of each line is rendered
    once, so generating a backlog costs a few microseconds an event."""

    def __init__(self, seed: int):
        self.rng = rng = random.Random(seed)
        self.devices = []  # (mac, dest device segment, JSON fragment), by rank
        for r in range(N_DEVICES):
            mac = f"mac:{rng.getrandbits(48):012x}"
            if r % USER1_RANKS[0] in USER1_RANKS[1]:
                did = f"user-1{rng.randrange(10_000):04d}"
            elif r % USER_ID_RANKS[0] < USER_ID_RANKS[1]:
                did = f"user-{rng.randrange(2, 10)}{rng.randrange(10_000):04d}"
            else:
                did = mac
            # FIXTURES.md §1: ['comcast'] mostly, some multi-element, some
            # empty (shares: assumption)
            u = rng.random()
            partners = ["comcast"] if u < 0.8 else [] if u < 0.85 else ["comcast", f"partner-{r % 7}"]
            fragment = json.dumps(
                {"session_id": "".join(rng.choices(_BASE62, k=27)), "partner_ids": partners},
                separators=(",", ":"),
            )[1:-1] + ',"metadata":{' + json.dumps(
                {"/hw-model": rng.choice(HW_MODELS), "/fw-name": rng.choice(FW_NAMES),
                 "/hw-last-reboot-reason": rng.choice(REASONS),
                 "/random-value": str(rng.randrange(1_000_000))},
                separators=(",", ":"),
            )[1:-1]
            self.devices.append((mac, did, fragment))
        self._dev_cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(N_DEVICES)))
        self._payloads = [
            base64.b64encode(
                json.dumps({"ts": f"2024-05-0{d}T10:00:00Z", "reason-for-closure": r}).encode()
            ).decode()
            for d in range(1, 10)
            for r in REASONS
        ]
        self.next_eid = 0

    def events(self, n: int) -> tuple[list[str], list[tuple]]:
        """``n`` new events as JSON lines, plus ``(eid, msg_type,
        source, dest)`` reference tuples for the oracle."""
        rng = self.rng
        lines, refs = [], []
        dev_total = self._dev_cum[-1]
        for _ in range(n):
            eid = self.next_eid
            self.next_eid += 1
            mac, did, fragment = self.devices[
                bisect.bisect_left(self._dev_cum, rng.random() * dev_total)]
            etype = rng.choice(EVENT_TYPES)
            msg_type = 4 if rng.random() >= REJECT_SHARE else rng.choice((3, 5, 8))
            u = rng.random()
            source = None if u < NULL_SOURCE_SHARE else mac
            dest = (
                None
                if NULL_SOURCE_SHARE <= u < NULL_SOURCE_SHARE + NULL_DEST_SHARE
                else f"event:{etype}/{did}/{rng.choice(SUBTYPES)}"
            )
            txn = "" if rng.random() < EMPTY_TXN_SHARE else f"{rng.getrandbits(128):032x}"
            ct = "" if rng.random() < EMPTY_CT_SHARE else "application/json"
            lines.append(
                f'{{"msg_type":{msg_type},"source":{_str(source)},"dest":{_str(dest)},'
                f'"transaction_uuid":"{txn}","content_type":"{ct}",{fragment},'
                f'"/xmidt-timestamp":"2024-05-01T00:00:{eid % 60:02d}.{eid % 1000:03d}Z",'
                f'"{EID_KEY}":"{eid}"}},"payload":"{rng.choice(self._payloads)}"}}'
            )
            refs.append((eid, msg_type, source, dest))
        return lines, refs


_BASE62 = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def _str(s):
    """JSON literal of a generated string (no characters to escape)."""
    return "null" if s is None else f'"{s}"'
