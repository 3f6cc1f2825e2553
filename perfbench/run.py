#!/usr/bin/env python3
"""Event-delivery benchmark: seeded WRP traffic through ``app.run_app``.

    python3 perfbench/run.py --workload drain_default --seed 1 \\
        --seconds 25 --trace 0

Workloads, metrics and the predicted layer -> end-to-end mapping are in
perfbench/README.md. The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it print every measured value by name and unit, with its base.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` reports its per-layer metrics: layer-isolated calls,
trigger spans from a ``StreamingQueryListener``, put spans from the
sink, span self times, a single-core drain for ``parallel.speedup``, and
the tracing overhead (traced minus untraced parts of the same run).

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit. Needs the ``xmidt_event_streams_spark``
package beside this directory.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")

DEADLINE_S = 170.0  # every wait gives up past this, so the run ends < 180 s
WARM_EVENTS = 2000  # events of the warm-up trigger that ends set-up
# open loop: the generator runs this long before the measured window;
# per-trigger cost keeps falling for 20-30 s of small triggers (JIT
# warm-up), and a window that starts earlier measures that curve
OPEN_LOOP_WARM_S = 25.0
SPEEDUP_WARM_ROUNDS = 2  # traced run: untimed drains before the timed one, per core count


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROC = process_start_time()


def cpu_ticks():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pct(values, q):
    """Nearest-rank percentile ``q`` (0-100) of a non-empty sequence."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, -(-len(v) * q // 100) - 1))]


def mix_note(ref, refs, exp):
    """One report line on the traffic a run measured: accepted share,
    fan-out and each stream's share of accepted events, so that drift
    of the workload between seeds is visible."""
    from collections import Counter

    accepted = sum(1 for _eid, mt, src, dst in refs if mt == 4 and src and dst)
    per_stream = Counter()
    for (stream, _eid), n in exp.items():
        per_stream[stream] += n
    shares = " ".join(f"{s}={n / accepted:.3f}" for s, n in sorted(per_stream.items()))
    return (f"traffic: {len(refs)} events, accepted {accepted / len(refs):.3f}, "
            f"fan-out {sum(per_stream.values()) / accepted:.3f}; per accepted event: {shares}")


class RssSampler(threading.Thread):
    """Peak resident memory of a process plus all its descendants (the
    driver JVM and the Python workers it forks), sampled."""

    def __init__(self, pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _rss_kb(pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def _children(pid):
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
        return out

    def sample(self):
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += self._rss_kb(p)
            todo.extend(self._children(p))
        self.peak_kb = max(self.peak_kb, total)

    def run(self):
        while not self._halt.wait(self.every_s):
            self.sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        if not self._halt.is_set():
            self._halt.set()
            self.join(timeout=5)
            self.sample()
        return self.peak_kb / 1024.0


class Bench:
    """One benchmark run: set-up, the workload, checks and metrics.
    ``import_s`` is the time from process start to the imports done."""

    def __init__(self, args, work, import_s):
        from perfbench.oracle import Reference
        from perfbench.tracing import ProgressListener, Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.import_s = import_s
        self.w = WORKLOADS[args.workload]
        self.ref = Reference(self.w.filters)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.deadline = T_PROC + DEADLINE_S
        self.tracer = Tracer()
        self.listener = ProgressListener() if args.trace else None
        self.spark = None
        self.rss = None
        self.by_eid = {}  # eid -> reference tuple, every generated event
        self.parts = []  # (label, sink root, expected Counter, stream -> filter)
        self.values = {}  # name -> (value, unit); everything measured
        self.notes = []  # report lines: bases and sample counts
        self._dir_seq = itertools.count()
        self.log_dir = self.fresh_dir("putlog")

    # -- plumbing -------------------------------------------------------
    def fresh_dir(self, name):
        d = os.path.join(self.work, f"{name}-{next(self._dir_seq)}")
        os.makedirs(d)
        return d

    def remaining(self):
        left = self.deadline - time.time()
        if left <= 0:
            raise TimeoutError("benchmark ran past its time limit")
        return left

    def put(self, name, value, unit):
        self.values[name] = (value, unit)

    def factory(self, sink_root, wl=None):
        from perfbench.sink import BenchSenderFactory
        from perfbench.workloads import THROTTLE_SHARE

        return BenchSenderFactory(sink_root, self.log_dir, self.args.seed,
                                  (wl or self.w).throttled, THROTTLE_SHARE)

    def start_session(self, cores):
        from xmidt_event_streams_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # the heap starts at its full size, so GC work does not
                # depend on how far a run's heap happened to grow
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self):
        """Stop Spark and wait for the driver JVM (and with it the
        Python workers) to exit, so the next session starts cold."""
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    @staticmethod
    def publish(path, lines):
        """Write a file aside, then rename it into place, so a file
        source never lists a partial file."""
        tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, path)

    def stage(self, lines, refs, files):
        """Write ``lines`` as ``files`` backlog files; returns paths."""
        stage = self.fresh_dir("stage")
        paths = [os.path.join(stage, f"b{k}.json") for k in range(files)]
        for k, p in enumerate(paths):
            self.publish(p, lines[k::files])
        self.by_eid.update((r[0], r) for r in refs)
        return paths

    def run_app(self, src, ck, sink_root, wl=None, **kw):
        """``app.run_app`` with workload ``wl``'s filters (default: this
        run's workload) and the benchmark's sink."""
        from xmidt_event_streams_spark.app import run_app

        return run_app(self.spark, (wl or self.w).filters, src, ck,
                       sender_factory=self.factory(sink_root, wl), **kw)

    def drain_once(self, src, ck, sink, wl=None):
        q = self.run_app(src, ck, sink, wl, availableNow=True)
        if not q.awaitTermination(self.remaining()):
            q.stop()
            raise TimeoutError("drain did not finish in time")
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        return q

    def link(self, paths, src, prefix):
        for k, p in enumerate(paths):
            os.link(p, os.path.join(src, f"{prefix}{k}.json"))

    # -- set-up ---------------------------------------------------------
    def setup(self, warm, **app_kw):
        """Session, run_app and the warm-up trigger over the files
        ``warm``: the set-up a user of the pipeline waits for. Returns
        (query, source dir, checkpoint dir, the warm-up's sink root)."""
        src, ck, sink = self.fresh_dir("src"), self.fresh_dir("ck"), self.fresh_dir("sink")
        self.link(warm, src, "warm")
        t0 = time.time()
        self.start_session(self.cores)
        from pyspark import SparkContext

        self.rss = RssSampler(SparkContext._gateway.proc.pid)
        self.rss.start()
        t1 = time.time()
        q = self.run_app(src, ck, sink, **app_kw)
        self.put("app.start_s", time.time() - t1, "s")
        if app_kw.get("availableNow"):
            if not q.awaitTermination(self.remaining()):
                raise TimeoutError("warm-up drain did not finish in time")
        else:
            q.processAllAvailable()
        # process start -> imports done, then session -> warm-up done;
        # generating the inputs in between is the benchmark's own work
        self.put("setup_s", self.import_s + time.time() - t0, "s")
        return q, src, ck, sink

    # -- workloads ------------------------------------------------------
    def drain(self):
        """Drain the same backlog once per round, each time published
        under new file names into the same source and checkpoint."""
        from perfbench.workloads import Traffic

        w, ref = self.w, self.ref
        traffic = Traffic(self.args.seed)
        warm_lines, warm_refs = traffic.events(WARM_EVENTS)
        warm = self.stage(warm_lines, warm_refs, 1)
        lines, refs = traffic.events(w.round_events)
        backlog = self.stage(lines, refs, w.round_files)
        exp = ref.expected(refs)
        self.notes.append(mix_note(ref, refs, exp))
        self.backlog, self.backlog_refs = backlog, refs
        _q, src, ck, sink = self.setup(warm, availableNow=True)
        self.parts.append(("warm", sink, ref.expected(warm_refs), ref.owner))

        # Warm-up rounds are checked, not measured. The traced run
        # brackets a traced round with untraced ones, for the overhead.
        n = max(1, round(self.args.seconds / w.round_seconds))
        plan = [None] * w.warm_rounds + ([False, True, False] if self.args.trace else [False] * n)
        self.rounds = []  # (traced, t0, t1, label, run id); None = warm-up
        lags = []
        for r, traced in enumerate(plan):
            t_pub = time.time()
            self.link(backlog, src, f"r{r}-")
            sink = self.fresh_dir("sink")
            if traced:
                self.spark.streams.addListener(self.listener)
            t0 = time.time()
            lags.append(t0 - t_pub)
            q = self.drain_once(src, ck, sink)
            t1 = time.time()
            if traced:
                self.spark.streams.removeListener(self.listener)
            self.rounds.append((traced, t0, t1, f"round{r}", str(q.runId)))
            if traced is None:
                self.notes.append(f"round{r} (warm-up): {t1 - t0:.3f} s")
            self.parts.append((f"round{r}", sink, exp, ref.owner))
        # a round's backlog is due when its publication starts
        self.put("generator.lag_ms_p99", pct(lags, 99) * 1000.0, "ms")
        self.put("generator.events", WARM_EVENTS + w.round_events, "count")
        self.round_deliveries = sum(exp.values())

    def open_loop(self):
        from perfbench.workloads import Traffic

        w, ref = self.w, self.ref
        traffic = Traffic(self.args.seed)
        warm_lines, warm_refs = traffic.events(WARM_EVENTS)
        warm_exp = ref.expected(warm_refs)
        q, src, _ck, sink = self.setup(
            self.stage(warm_lines, warm_refs, 1), trigger_seconds=w.trigger_seconds)
        # the generator runs OPEN_LOOP_WARM_S, then the --seconds window
        n_files = max(2, int(w.rate * (OPEN_LOOP_WARM_S + self.args.seconds)) // w.file_events)
        fe = w.file_events
        lines, refs = traffic.events(n_files * fe)
        # the same events as one backlog, for the traced run's layer calls
        self.backlog, self.backlog_refs = self.stage(lines, refs, 1), refs
        exp = ref.expected(refs)
        self.parts.append(("open_loop", sink, warm_exp + exp, ref.owner))

        self.notes.append(mix_note(ref, refs, exp))
        eid0 = refs[0][0]
        n_files_warm = int(w.rate * OPEN_LOOP_WARM_S) // fe
        t_start = time.time() + 0.2
        self.due = lambda eid: t_start + (eid - eid0) / w.rate  # noqa: E731
        lags = []
        self.traced_from = None
        for k in range(n_files):
            if self.args.trace and k == n_files_warm + (n_files - n_files_warm) // 2:
                self.spark.streams.addListener(self.listener)
                self.traced_from = self.due(eid0 + k * fe)
            t_due = self.due(eid0 + (k + 1) * fe - 1)
            now = time.time()
            if t_due > now:
                time.sleep(t_due - now)
            self.publish(os.path.join(src, f"f{k:06d}.json"), lines[k * fe:(k + 1) * fe])
            t_pub = time.time()
            lags.append(t_pub - t_due)
        self.t_end = self.due(eid0 + n_files * fe)
        # deliver everything published, then stop; a stuck query is
        # stopped by the watchdog, which makes processAllAvailable raise
        watchdog = threading.Timer(self.remaining(), q.stop)
        watchdog.start()
        try:
            q.processAllAvailable()
        finally:
            watchdog.cancel()
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        self.run_id = str(q.runId)
        q.stop()
        self.t_stopped = time.time()
        if self.args.trace:
            self.spark.streams.removeListener(self.listener)
        self.window = (self.due(eid0 + n_files_warm * fe), self.t_end)
        self.put("generator.lag_ms_p99", pct(lags, 99) * 1000.0, "ms")
        self.put("generator.events", len(refs), "count")

    # -- verification -----------------------------------------------------
    def verify(self):
        """Check every part against the reference. Sets ``expected``,
        ``failed`` and, per part label, the (eid, put end) deliveries."""
        from perfbench.oracle import compare, read_deliveries
        from perfbench.sink import read_put_log

        self.puts = read_put_log(self.log_dir)
        t1_of = {p["dir"]: p["t1"] for p in self.puts if p["ok"]}
        self.expected = self.failed = 0
        self.deliv = {}
        self.checks = {}
        for label, sink, exp, owner in self.parts:
            got, bad, put_dirs = read_deliveries(sink, self.by_eid, owner)
            c = compare(exp, got)
            c["bad_content"] = bad
            self.checks[label] = c
            self.expected += c["expected"]
            self.failed += c["missing"] + c["duplicated"] + c["misrouted"] + bad
            self.notes.append(f"check {label}: " + " ".join(f"{k}={v}" for k, v in c.items()))
            self.deliv[label] = [(eid, t1_of[sub]) for sub, eids in put_dirs.items() for eid in eids]

    # -- end-to-end metrics -----------------------------------------------
    def drain_metrics(self, rounds):
        """Medians over rounds of each round's rate and latencies; a
        delivery's latency runs from its round's start to its put's end."""
        eps, p50, p99 = [], [], []
        for _traced, t0, t1, label, _rid in rounds:
            self.notes.append(f"{label}: {t1 - t0:.3f} s")
            lat = [t - t0 for _eid, t in self.deliv[label]]
            eps.append(self.round_deliveries / (t1 - t0))
            p50.append(pct(lat, 50))
            p99.append(pct(lat, 99))
        return {
            "drain_events_per_s": statistics.median(eps),
            "latency_p50_ms": statistics.median(p50) * 1000.0,
            "latency_p99_ms": statistics.median(p99) * 1000.0,
        }, f"median of {len(rounds)} rounds of {self.round_deliveries} deliveries each"

    def open_loop_metrics(self, lo, hi):
        """Latency of the events due in [lo, hi). The delivered rate is
        counted over the same window shifted by the median latency, so
        a pipeline that keeps up reads 1.0 whatever its delay."""
        due, got = self.due, self.deliv["open_loop"]
        lat = [t - due(eid) for eid, t in got if lo <= due(eid) < hi]
        shift = pct(lat, 50)
        done = sum(1 for _eid, t in got if lo + shift <= t < hi + shift)
        slices = {}
        for eid, t in got:
            if lo <= due(eid) < hi:
                slices.setdefault(int((due(eid) - lo) // 5), []).append(t - due(eid))
        self.notes.append("latency p50 by 5 s of window, ms: " + " ".join(
            f"{pct(v, 50) * 1000:.0f}" for _k, v in sorted(slices.items())))
        offered = sum(
            len(self.ref.streams_for(*r[1:])) for r in self.backlog_refs if lo <= due(r[0]) < hi
        )
        return {
            "drain_events_per_s": done / (hi - lo),
            "latency_p50_ms": shift * 1000.0,
            "latency_p99_ms": pct(lat, 99) * 1000.0,
            "delivered_rate_ratio": done / offered,
        }, (f"window {hi - lo:.1f} s, {len(lat)} latency samples, "
            f"{offered} deliveries offered at {self.w.rate:g} events/s")

    def e2e(self):
        """End-to-end metrics from the untraced part of the run; in the
        traced run, also the traced part minus the untraced part."""
        trace = bool(self.args.trace)
        if self.w.kind == "drain":
            untraced = self.drain_metrics([r for r in self.rounds if r[0] is False])
            traced = trace and self.drain_metrics([r for r in self.rounds if r[0]])
        else:
            lo, hi = self.window
            mid = self.traced_from if trace else hi
            untraced = self.open_loop_metrics(lo, mid)
            traced = trace and self.open_loop_metrics(mid, hi)
        units = {"drain_events_per_s": "1/s", "latency_p50_ms": "ms",
                 "latency_p99_ms": "ms", "delivered_rate_ratio": "ratio"}
        vals, note = untraced
        self.notes.append(f"end-to-end base: {note}")
        for k, v in vals.items():
            self.put(k, v, units[k])
        if traced:
            tvals, note = traced
            self.notes.append(f"traced base: {note}")
            for k in ("drain_events_per_s", "latency_p50_ms", "latency_p99_ms"):
                self.put(f"trace.overhead.{k}", tvals[k] - vals[k], units[k])
        self.put("failed_event_ratio", self.failed / self.expected, "ratio")

    # -- traced run -------------------------------------------------------
    def layers(self):
        """Time each layer's public functions in isolation over the
        workload's backlog, in the session the run measured."""
        from pyspark.sql import functions as F

        from perfbench.sink import BenchSender
        from perfbench.workloads import THROTTLE_SHARE
        from xmidt_event_streams_spark.enrich import classify_rejects, fix_wrp
        from xmidt_event_streams_spark.routing import compile_filters, route_union
        from xmidt_event_streams_spark.schema import WRP_SCHEMA
        from xmidt_event_streams_spark.sinks.writer import deliver_batch, route_and_deliver

        spark, w, tr = self.spark, self.w, self.tracer
        root = tr.add("layers", time.time(), 0.0, trace="layers")

        def timed(name, metric, fn):
            with tr.span(name, root.sid, "layers") as s:
                out = fn()
            self.put(metric, s.end - s.start, "s")
            return out

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        df = spark.read.schema(WRP_SCHEMA).format("json").load(self.backlog)
        timed("sources.decode", "sources.decode_s", lambda: noop(df))
        rows = df.count()
        self.put("sources.rows", rows, "count")
        self.put("sources.input_mb", sum(map(os.path.getsize, self.backlog)) / 1e6, "MB")
        df = df.persist()
        df.count()

        tagged = classify_rejects(df, required_cols=("dest", "source"))
        accepted = fix_wrp(tagged.filter(F.col("reject_reason") == "").drop("reject_reason"))
        timed("enrich", "enrich.busy_s", lambda: noop(accepted))
        rejected = tagged.filter(F.col("reject_reason") != "").count()
        self.put("enrich.reject_ratio", rejected / rows, "ratio")
        acc = accepted.persist()
        n_acc = acc.count()

        def build():
            compile_filters(w.filters)
            return route_union(acc, w.filters)

        routed = timed("routing.build", "routing.build_s", build)
        timed("routing", "routing.busy_s", lambda: noop(routed))
        self.put("routing.fanout_ratio", routed.count() / n_acc, "ratio")

        sc = spark.sparkContext
        group = f"perfbench-route-and-deliver-{os.getpid()}"
        sink = self.fresh_dir("sink")
        sc.setJobGroup(group, "perfbench: one route_and_deliver batch")
        try:
            timed("sinks.route_and_deliver", "sinks.route_and_deliver_s",
                  lambda: route_and_deliver(acc, w.filters, self.factory(sink)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.parts.append(("layers", sink, self.ref.expected(self.backlog_refs), self.ref.owner))
        jobs, stable = -1, 0
        while stable < 5:  # the status tracker is fed asynchronously
            n = len(sc.statusTracker().getJobIdsForGroup(group))
            stable, jobs = (stable + 1 if n == jobs else 0), n
            time.sleep(0.05)
        self.put("sinks.spark_jobs_per_batch", jobs, "count")
        self.notes.append(f"sinks.spark_jobs_per_batch base: {len(w.filters)} filters")

        items = [tuple(r) for r in acc.select(
            F.col("session_id").cast("string"), F.to_json(F.struct(*acc.columns))).collect()]
        fc = next(f for f in w.filters if f.stream_name in w.throttled)
        sender = BenchSender(self.fresh_dir("sink"), self.fresh_dir("putlog"),
                             self.args.seed, w.throttled, THROTTLE_SHARE)
        res = timed("sinks.deliver_batch", "sinks.deliver_batch_s",
                    lambda: deliver_batch(items, fc.streams_in_order, sender))
        if res.delivered != len(items):
            raise RuntimeError(f"deliver_batch dropped {res.dropped} of {len(items)} records")
        self.notes.append(f"sinks.deliver_batch base: {len(items)} records to {fc.stream_name}")
        acc.unpersist()
        df.unpersist()
        root.end = time.time()

    def speedup(self):
        """Drain one drain_default backlog on all cores and on one core.
        Each core count gets a fresh Spark context in the JVM the run
        warmed, and the same warm-up drains of that backlog before the
        timed one, so both sides are equally warm and the ratio reflects
        the cores."""
        from perfbench.oracle import Reference
        from perfbench.workloads import WORKLOADS, Traffic

        dd = WORKLOADS["drain_default"]
        ref = Reference(dd.filters)
        lines, refs = Traffic(self.args.seed).events(dd.round_events)
        backlog = self.stage(lines, refs, dd.round_files)
        exp = ref.expected(refs)
        eps = {}
        for cores in (self.cores, 1):
            self.spark.stop()  # the context only: the JVM stays up
            self.start_session(cores)
            src, ck = self.fresh_dir("src"), self.fresh_dir("ck")
            for r in range(SPEEDUP_WARM_ROUNDS + 1):
                self.link(backlog, src, f"r{r}-")
                sink = self.fresh_dir("sink")
                t0 = time.time()
                self.drain_once(src, ck, sink, dd)
                eps[cores] = sum(exp.values()) / (time.time() - t0)
                self.notes.append(f"local[{cores}] drain {r}: {eps[cores]:.0f} deliveries/s")
                self.parts.append((f"speedup-{cores}-{r}", sink, exp, ref.owner))
        self.put("parallel.cores", self.cores, "count")
        self.put("parallel.events_per_s_ncores", eps[self.cores], "1/s")
        self.put("parallel.events_per_s_1core", eps[1], "1/s")
        self.put("parallel.speedup", eps[self.cores] / eps[1], "ratio")
        self.notes.append(f"parallel base: {sum(exp.values())} drain_default deliveries "
                          f"on local[{self.cores}] vs local[1], each in a fresh context "
                          f"after {SPEEDUP_WARM_ROUNDS} warm-up drains")

    def trace_metrics(self):
        """Trigger and put spans of the traced part of the window, the
        streaming and sink metrics read from them, and self times."""
        tr = self.tracer
        if self.w.kind == "drain":
            runs = [(tr.add("app.drain_round", t0, t1, trace=run_id), run_id)
                    for traced, t0, t1, _label, run_id in self.rounds if traced]
        else:
            runs = [(tr.add("app.open_loop", self.traced_from, self.t_stopped,
                            trace=self.run_id), self.run_id)]
        triggers, recs = [], []
        for parent, run_id in runs:
            for p in self.listener.for_run(run_id, at_least=1):
                triggers.append(tr.add_trigger(p, parent))
                recs.append(p)
        puts = []
        for parent, _run_id in runs:
            inside = [p for p in self.puts if parent.start <= p["t0"] <= parent.end]
            tr.add_puts(inside, triggers, parent)
            puts.extend(inside)

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in recs)

        self.put("streaming.triggers", len(recs), "count")
        for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                          ("queryPlanning", "planning"), ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit"), ("latestOffset", "latest_offset")):
            self.put(f"streaming.{name}_ms_p50", med(key), "ms")
        self.put("streaming.rows_per_trigger_p50", statistics.median(p["rows"] for p in recs), "count")
        # the queue depth a trigger drains: what arrived while the last ran
        # (the queue_waiting_events gauge of streaming/metrics.py)
        self.put("streaming.backlog_events_max", max(p["rows"] for p in recs), "count")

        ok = [p for p in puts if p["ok"]]
        primaries = {fc.stream_name for fc in self.w.filters}
        traced_parts = ([r[3] for r in self.rounds if r[0]] if self.w.kind == "drain"
                        else ["open_loop"])
        dropped = sum(self.checks[label]["missing"] for label in traced_parts)
        self.put("sinks.put_calls", len(ok), "count")
        self.put("sinks.put_s", sum(p["t1"] - p["t0"] for p in puts), "s")
        self.put("sinks.records_per_put", sum(p["n"] for p in ok) / max(1, len(ok)), "count")
        self.put("sinks.attempts", len(puts), "count")
        self.put("sinks.retries", sum(1 for p in puts if p["attempt"] > 0), "count")
        self.put("sinks.failovers", sum(1 for p in ok if p["stream"] not in primaries), "count")
        self.put("sinks.dropped_records", dropped, "count")
        self.put("sinks.put_success_ratio", len(ok) / max(1, len(puts)), "ratio")

        selfs = tr.self_times()
        for name in SELF_TIME_SPANS:
            self.put(f"trace.self_s.{name}", selfs.get(name, 0.0), "s")
        self.put("trace.spans", len(tr.spans), "count")

    # -- driver -------------------------------------------------------------
    def run(self):
        steal0, total0 = cpu_ticks()
        try:
            if self.w.kind == "drain":
                self.drain()
            else:
                self.open_loop()
            if self.args.trace:
                self.layers()
            self.put("memory.peak_rss_mb", self.rss.stop(), "MB")
            if self.args.trace:
                self.speedup()
        finally:
            if self.rss is not None:
                self.rss.stop()
            self.stop_session()
        steal1, total1 = cpu_ticks()
        self.notes.append(f"cpu steal during the run: {(steal1 - steal0) / max(1, total1 - total0):.1%}")
        t0 = time.time()
        self.verify()
        self.notes.append(f"verified {self.expected} deliveries in {time.time() - t0:.1f} s")
        self.e2e()
        if self.args.trace:
            self.trace_metrics()


SELF_TIME_SPANS = (
    "app.drain_round", "app.open_loop", "streaming.trigger", "streaming.latest_offset",
    "streaming.wal_commit", "streaming.get_batch", "streaming.planning",
    "streaming.add_batch", "streaming.commit", "sinks.put", "sources.decode", "enrich",
    "routing.build", "routing", "sinks.route_and_deliver", "sinks.deliver_batch",
)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True, help="seed of all generated inputs")
    p.add_argument("--seconds", type=float, default=25.0,
                   help="open loop: length of the measured window; drains: sets the round count")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import xmidt_event_streams_spark.app  # noqa: F401
        from perfbench import oracle, tracing, workloads  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the pipeline: {exc}", file=sys.stderr)
        return 2
    import_s = time.time() - T_PROC
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK_BASE, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Pin the environment before the JVM starts; the executors and
    # their Python workers inherit it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        bench = Bench(args, work, import_s)
        bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_BASE)
        except OSError:
            pass

    for line in bench.notes:
        print(line)
    for name, (value, unit) in sorted(bench.values.items()):
        print(f"{name} {value:.6g} {unit}")
    missing = [m["name"] for m in wanted if m["name"] not in bench.values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.expected,
        "failed": bench.failed,
        "metrics": {
            m["name"]: {"value": bench.values[m["name"]][0], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
