"""Spans around the calls into each engine layer, for the traced run.

``Tracer.install`` wraps public functions and methods of the engine from
here; no engine file changes. Each span records its name, start, end,
parent, and the tick and micro-batch it belongs to. Spans that can run
Spark jobs are tagged with ``SparkContext.setJobGroup`` and count their
jobs through ``statusTracker().getJobIdsForGroup`` when they end. Spans
stay in memory; ``per_layer`` turns them into the per-layer metrics when
the run ends.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from contextlib import contextmanager

# Which end-to-end metric each layer's metrics should move, and on which
# workload. Later changes cite these entries by layer name; every
# per-layer metric of BENCHMARK.json belongs to exactly one layer here.
LAYERS = {
    "streaming.stream": {
        "metrics": ["stream.start_ms", "stream.schema_ms",
                    "stream.trigger_sizing_ms", "stream.files_per_trigger",
                    "stream.batches", "stream.gap_ms_p50"],
        "moves": "tick_ms_p50 on mor_ticks_reads, which starts the query "
                 "and sizes its trigger every tick. stream.batches is fixed "
                 "by construction on both workloads: a change there is a "
                 "change of semantics, not of speed.",
    },
    "cdc.apply": {
        "metrics": ["apply.batch_ms_p50", "apply.self_ms_p50",
                    "apply.jobs_per_batch", "apply.retries"],
        "moves": "batch_ms_p50 and events_per_s on mor_ticks_reads (one "
                 "apply_batch per tick); nothing on routed_tail.",
    },
    "lake.table merge": {
        "metrics": ["lake.merge_ms_p50", "lake.merge_jobs_per_batch",
                    "lake.rewritten_buckets_per_batch"],
        "moves": "batch_ms_p50 on routed_tail (copy-on-write, two merges "
                 "per batch) and on mor_ticks_reads (merge-on-read).",
    },
    "lake.table metadata": {
        "metrics": ["lake.snapshot_calls_per_batch",
                    "lake.snapshot_ms_per_batch"],
        "moves": "batch_ms_p50 and tick_ms_p50 on both workloads.",
    },
    "lake.table reads": {
        "metrics": ["lake.read_ms_p50", "lake.lookup_ms_p50",
                    "lake.lookup_files", "lake.live_files", "lake.delta_files"],
        "moves": "scan_ms_p50 and lookup_ms_p50 on mor_ticks_reads, where the "
                 "delta backlog grows and is compacted; on routed_tail for "
                 "copy-on-write tables.",
    },
    "lake.table maintenance": {
        "metrics": ["lake.compact_ms", "lake.compacts", "lake.bytes_written"],
        "moves": "events_per_s and tick_ms_p50 on mor_ticks_reads (every "
                 "third tick compacts); bytes_written_per_event on both.",
    },
    "cdc.state and cdc.metrics": {
        "metrics": ["state.commit_ms_p50", "state.watermark_ms_p50",
                    "metrics.record_ms_p50"],
        "moves": "batch_ms_p50 on both workloads.",
    },
    "cdc.router and lake.catalog": {
        "metrics": ["router.batch_ms_p50", "router.self_ms_p50",
                    "router.jobs_per_batch", "catalog.commit_ms_p50"],
        "moves": "batch_ms_p50 and events_per_s on routed_tail; nothing on "
                 "mor_ticks_reads.",
    },
    "session and cdc.changelog (set-up)": {
        "metrics": ["setup.session_ms", "setup.wal_gen_ms", "setup.seed_ms"],
        "moves": "setup_s on both workloads.",
    },
    "benchmark host": {
        "metrics": ["trace.events_per_s", "host.calib_before_ms",
                    "host.calib_after_ms"],
        "moves": "nothing. Untraced minus traced events_per_s is the "
                 "tracing overhead; calibration times mark a contended host.",
    },
}

_PROPS = ("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel")


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.tick: int | None = None
        self.root: dict | None = None  # the tick's engine-call span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, batch: int | None = None, jobs: bool = True):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        sp = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "tick": self.tick,
            "batch": batch if batch is not None else (
                parent["batch"] if parent else None),
            "jobs": 0, "start": time.perf_counter(), "end": None,
        }
        if jobs:
            saved = [self.sc.getLocalProperty(k) for k in _PROPS]
            group = f"perfbench-{sp['id']}"
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            if jobs:
                sp["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                for k, v in zip(_PROPS, saved):
                    self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def engine_span(self):
        """Root span of one measured engine call; micro-batch spans from
        the foreachBatch thread hang off it."""
        with self.span("tick.engine", jobs=False) as sp:
            self.root = sp
            try:
                yield sp
            finally:
                self.root = None

    def wrap(self, owner, attr: str, name: str, jobs: bool = True,
             batch_arg: int | None = None, result=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            batch = (args[batch_arg] if batch_arg is not None
                     else kwargs.get("batch_id"))
            with self.span(name, batch=batch, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
                if result is not None:
                    sp["result"] = result(out)
                return out

        setattr(owner, attr, traced)

    def install(self) -> None:
        from etl_spark.cdc import router
        from etl_spark.cdc.metrics import MetricsTable
        from etl_spark.cdc.state import CommitLog, WatermarkStore
        from etl_spark.lake import LakeTable
        from etl_spark.lake.catalog import CatalogTransaction
        from etl_spark.streaming import stream

        # module attributes are looked up at call time by the stream
        # classes, so wrapping them here reaches every call
        self.wrap(stream, "discover_wal_schema", "stream.schema")
        self.wrap(stream, "adaptive_files_per_trigger", "stream.trigger_sizing",
                  jobs=False, result=int)
        self.wrap(stream, "apply_batch", "apply.batch")
        self.wrap(router, "route_batch", "router.batch")
        self.wrap(stream.CdcStream, "_apply", "stream.foreach_batch",
                  jobs=False, batch_arg=2)
        self.wrap(router.RoutedCdcStream, "_apply", "stream.foreach_batch",
                  jobs=False, batch_arg=2)
        self.wrap(LakeTable, "merge", "lake.merge",
                  result=lambda r: r[1].get("rewritten_buckets", 0))
        self.wrap(LakeTable, "snapshot", "lake.snapshot", jobs=False)
        self.wrap(LakeTable, "compact", "lake.compact")
        self.wrap(CommitLog, "commit", "state.commit", jobs=False)
        self.wrap(WatermarkStore, "advance", "state.watermark", jobs=False)
        self.wrap(MetricsTable, "record", "metrics.record", jobs=False)
        self.wrap(CatalogTransaction, "commit", "catalog.commit")

    def per_layer(self, run: dict) -> dict[str, float]:
        """Per-layer metrics from the spans of the measured ticks. ``run``
        carries what the run loop measured itself: set-up times, events
        per second, files per trigger, per-tick file counts, lookup file
        counts, bytes written and calibration times."""
        spans = [s for s in self.spans if s["tick"] is not None]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            kids.setdefault(s["parent"], []).append(s)

        def dur(s):
            return (s["end"] - s["start"]) * 1000

        def below(s):
            for k in kids.get(s["id"], []):
                yield k
                yield from below(k)

        def self_ms(s):
            covered, edge = 0.0, s["start"]
            for k in sorted(kids.get(s["id"], []), key=lambda k: k["start"]):
                lo, hi = max(k["start"], edge), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            return dur(s) - covered * 1000

        def jobs(s):
            return s["jobs"] + sum(k["jobs"] for k in below(s))

        def named(name):
            return [s for s in spans if s["name"] == name]

        roots = named("tick.engine")
        batches = named("stream.foreach_batch")
        applies = {s["parent"]: s for s in named("apply.batch")}
        applies.update({s["parent"]: s for s in named("router.batch")})
        merges, snaps, gaps, starts, n_batches = [], [], [], [], []
        for r in roots:
            mine = sorted((b for b in batches if b["parent"] == r["id"]),
                          key=lambda b: b["start"])
            n_batches.append(len(mine))
            if mine:
                starts.append((mine[0]["start"] - r["start"]) * 1000)
            prev = r["start"]
            for b in mine:
                inner = applies.get(b["id"])
                gaps.append((b["end"] - prev) * 1000 - (dur(inner) if inner else 0))
                prev = b["end"]
                sub = list(below(b))
                ms = [s for s in sub if s["name"] == "lake.merge"]
                merges.append((sum(jobs(m) for m in ms),
                               sum(m.get("result", 0) for m in ms)))
                sn = [s for s in sub if s["name"] == "lake.snapshot"]
                snaps.append((len(sn), sum(dur(s) for s in sn)))
        apply_spans = named("apply.batch")
        route_spans = named("router.batch")
        compacts = named("lake.compact")
        sizing = [s["result"] for s in named("stream.trigger_sizing")
                  if "result" in s]
        return {
            "stream.start_ms": _med(starts),
            "stream.schema_ms": _med([dur(s) for s in named("stream.schema")]),
            "stream.trigger_sizing_ms": _med(
                [dur(s) for s in named("stream.trigger_sizing")]),
            "stream.files_per_trigger": _med(sizing) or float(run["files_per_trigger"]),
            "stream.batches": _med(n_batches),
            "stream.gap_ms_p50": _med(gaps),
            "apply.batch_ms_p50": _med([dur(s) for s in apply_spans]),
            "apply.self_ms_p50": _med([self_ms(s) for s in apply_spans]),
            "apply.jobs_per_batch": _med([jobs(s) for s in apply_spans]),
            "apply.retries": float(
                len(apply_spans) - len({s["batch"] for s in apply_spans})),
            "lake.merge_ms_p50": _med([dur(s) for s in named("lake.merge")]),
            "lake.merge_jobs_per_batch": _med([m[0] for m in merges]),
            "lake.rewritten_buckets_per_batch": _med([m[1] for m in merges]),
            "lake.snapshot_calls_per_batch": _med([s[0] for s in snaps]),
            "lake.snapshot_ms_per_batch": _med([s[1] for s in snaps]),
            "lake.read_ms_p50": _med([dur(s) for s in named("lake.read")]),
            "lake.lookup_ms_p50": _med([dur(s) for s in named("lake.lookup")]),
            "lake.lookup_files": _med(run["lookup_files"]),
            "lake.live_files": _med(run["live_files"]),
            "lake.delta_files": _med(run["delta_files"]),
            "lake.compact_ms": _med([dur(s) for s in compacts]),
            "lake.compacts": float(len(compacts)),
            "lake.bytes_written": float(run["bytes_written"]),
            "state.commit_ms_p50": _med([dur(s) for s in named("state.commit")]),
            "state.watermark_ms_p50": _med(
                [dur(s) for s in named("state.watermark")]),
            "metrics.record_ms_p50": _med(
                [dur(s) for s in named("metrics.record")]),
            "router.batch_ms_p50": _med([dur(s) for s in route_spans]),
            "router.self_ms_p50": _med([self_ms(s) for s in route_spans]),
            "router.jobs_per_batch": _med([jobs(s) for s in route_spans]),
            "catalog.commit_ms_p50": _med(
                [dur(s) for s in named("catalog.commit")]),
            "setup.session_ms": run["session_s"] * 1000,
            "setup.wal_gen_ms": run["wal_gen_s"] * 1000,
            "setup.seed_ms": run["seed_s"] * 1000,
            "trace.events_per_s": run["events_per_s"],
            "host.calib_before_ms": run["calib_before_ms"],
            "host.calib_after_ms": run["calib_after_ms"],
        }

    def job_signature(self) -> list[list]:
        """Jobs per span kind for every measured micro-batch, in order:
        the sequence two traced runs of one seed must reproduce."""
        out = []
        for b in sorted((s for s in self.spans
                         if s["name"] == "stream.foreach_batch"
                         and s["tick"] is not None), key=lambda s: s["start"]):
            per: dict[str, int] = {}
            for s in self.spans:
                if s["tick"] == b["tick"] and s["batch"] == b["batch"] and s["jobs"]:
                    per[s["name"]] = per.get(s["name"], 0) + s["jobs"]
            out.append([b["batch"], per])
        return out
