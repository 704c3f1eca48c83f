"""The CDC workloads, each a closed loop with one client.

A workload is set up once: its changelog is generated from the seed, the
initial inserts are written as a WAL and replayed into the seeded table.
Then ``tick`` is called until the run's time is up: append the next slice
of the churn tail to the WAL, hand it to the engine, return when the
engine does. The next tick starts only after the previous one, and the
read-back that follows it, have returned.
"""

from __future__ import annotations

import contextlib
import os
import time

import pandas as pd

from etl_spark.cdc.apply import replay
from etl_spark.cdc.changelog import (
    TRANSCRIPTS_SCHEMA,
    ChangelogSpec,
    generate_changelog,
    write_changelog,
)
from etl_spark.cdc.router import RoutedCdcStream
from etl_spark.functions.text import normalize_transcripts_expr
from etl_spark.lake import Catalog, LakeTable
from etl_spark.streaming.stream import CdcStream, discover_wal_schema

from perfbench import wal

KEY = ["conv_id", "turn_idx"]
# WAL generations per set-up; set-up reports their median.
GEN_REPEATS = 2
SEGMENT_EVENTS = 1_000


def _create(spark, path: str, n_buckets: int) -> LakeTable:
    return LakeTable.create(spark, path, TRANSCRIPTS_SCHEMA, key=KEY,
                            n_buckets=n_buckets, bucket_by=["conv_id"])


def _read_wal(spark, wal_dir: str):
    return spark.read.schema(discover_wal_schema(spark, wal_dir)).parquet(wal_dir)


def _replay(spark, frame, table: LakeTable) -> None:
    replay(spark, frame, table, transform=normalize_transcripts_expr,
           transform_stage="post")


class Workload:
    """Seeded table(s) plus a churn-only tail appended tick by tick.
    Subclasses set the sizes and the engine."""

    n_conversations = 10_000
    churn = 3.0
    n_partitions = 4
    segments_per_tick = 4  # one ~1k-event segment per source partition
    files_per_trigger = 4
    lookups_per_tick = 3
    # the run ends on a whole cycle of ticks (see MorTicksReads)
    ticks_per_cycle = 1
    # unmeasured ticks, with their read-back, between set-up and timing
    warmup_ticks = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.wal_dir = os.path.join(work, "wal")
        self.wal_gen_s: list[float] = []
        self.seed_s = 0.0
        # workload-specific facts about the last tick, for the run detail
        self.tick_info: dict = {}
        # wraps each measured engine call; the traced run hangs its
        # micro-batch spans off it
        self.engine_span = contextlib.nullcontext

    def setup(self) -> None:
        spec = ChangelogSpec(
            n_conversations=self.n_conversations, churn=self.churn,
            n_partitions=self.n_partitions, segments_per_partition=1,
            seed=self.seed,
        )
        for i in range(GEN_REPEATS):
            t = time.perf_counter()
            events = generate_changelog(spec)
            initial, churn = wal.split_initial(events)
            seed_wal = os.path.join(self.work, f"seed_wal{i}")
            write_changelog(initial, seed_wal, spec)
            self.wal_gen_s.append(time.perf_counter() - t)
        self.initial = initial
        self.tail = wal.Tail(churn, self.segments_per_tick * SEGMENT_EVENTS)
        os.makedirs(self.wal_dir)
        t = time.perf_counter()
        self._seed(seed_wal)
        self.seed_s = time.perf_counter() - t

    def tick(self) -> tuple[int, float] | None:
        """Append the next slice of the tail and apply it. Returns (events,
        seconds from the end of the append to the engine's return), or
        None when the generated tail is used up."""
        chunk = self.tail.next()
        if chunk is None:
            return None
        self._append(chunk)
        self.before = self._version()
        self.started = time.time()
        t = time.perf_counter()
        with self.engine_span():
            self.stream.run_to_completion()
        return len(chunk), time.perf_counter() - t

    def commit_times(self) -> list[float]:
        """The last tick's engine-call start, then the wall-clock time of
        each of its micro-batch commits."""
        raise NotImplementedError

    def tables(self) -> list[LakeTable]:
        raise NotImplementedError

    def scan(self) -> None:
        for frame in self._current():
            frame.write.format("noop").mode("overwrite").save()

    def lookup(self, convs: list[str]):
        return self.tables()[0].read_for_keys(convs)

    def conversations(self) -> list[str]:
        return [f"conv{i:06d}" for i in range(self.n_conversations)]

    def state(self):
        """The converged state, for the oracle."""
        a, *rest = self._current()
        for b in rest:
            a = a.unionByName(b)
        return a

    def applied(self) -> pd.DataFrame:
        """Every event the converged state must reflect."""
        return pd.concat([self.initial, self.tail.emitted()])


class MorTicksReads(Workload):
    """Merge-on-read ticks of one segment set each through ``CdcStream``,
    with backlog-driven compaction and a full read plus point lookups
    after every tick."""

    # a tick adds about 1.6k delta rows, so the backlog threshold compacts
    # on every third tick and a run ends on a whole cycle of three: reads
    # then see a clean table once a cycle and a delta backlog twice, which
    # keeps their median off the boundary between the two
    ticks_per_cycle = 3
    # the first merge-on-read query and read of the process run cold
    # (about 1.5x a warm tick); warm them before timing
    warmup_ticks = 1

    def _seed(self, seed_wal: str) -> None:
        self.table = _create(self.spark, os.path.join(self.work, "t"), 16)
        _replay(self.spark, _read_wal(self.spark, seed_wal), self.table)
        self.stream = CdcStream(
            self.spark, self.wal_dir, self.table, os.path.join(self.work, "state"),
            transform=normalize_transcripts_expr, transform_stage="post",
            max_files_per_trigger=self.files_per_trigger,
            adaptive_trigger_rows=2_000_000, merge_mode="mor",
            compact_when_delta_rows=4_000,
        )

    def _append(self, chunk):
        wal.append_segments(chunk, self.wal_dir, self.n_partitions,
                            SEGMENT_EVENTS)

    def _version(self):
        return self.table.current_version()

    def commit_times(self):
        out = [self.started]
        compactions = 0
        for v in range(self.before + 1, self.table.current_version() + 1):
            snap = self.table.snapshot(v, buckets=set())
            if snap.op.startswith("merge"):
                out.append(snap.ts)
            elif snap.op.startswith("compact"):
                compactions += 1
        self.tick_info = {
            "compactions": compactions,
            "delta_backlog_rows": self.stream.batch_stats[-1].get(
                "delta_backlog_rows"),
        }
        return out

    def tables(self):
        return [self.table]

    def _current(self):
        return [self.table.read()]


class RoutedTail(Workload):
    """The churn tail labelled into two destinations with different
    bucket counts, applied by ``RoutedCdcStream`` one segment per
    micro-batch, one catalog transaction per micro-batch."""

    n_partitions = 3
    segments_per_tick = 3
    files_per_trigger = 1
    lookups_per_tick = 5
    BUCKETS = {"turns_even": 16, "turns_odd": 8}

    @staticmethod
    def route(conv_id: pd.Series) -> pd.Series:
        odd = conv_id.str[-1].astype(int) % 2 == 1
        return odd.map({True: "turns_odd", False: "turns_even"})

    def _seed(self, seed_wal: str) -> None:
        frame = _read_wal(self.spark, seed_wal)
        parity = frame.conv_id.substr(-1, 1).cast("int") % 2
        self.catalog = Catalog.create(self.spark, os.path.join(self.work, "cat"))
        self.dest = {}
        for name, n_buckets in self.BUCKETS.items():
            t = _create(self.spark, os.path.join(self.work, name), n_buckets)
            _replay(self.spark, frame.filter(parity == int(name == "turns_odd")), t)
            self.catalog.register(name, t)
            self.dest[name] = t
        self.writer = wal.RoutedWal(self.wal_dir, self.route)
        self.stream = RoutedCdcStream(
            self.spark, self.wal_dir, self.catalog, os.path.join(self.work, "state"),
            transforms={n: normalize_transcripts_expr for n in self.BUCKETS},
            max_files_per_trigger=self.files_per_trigger,
        )

    def _append(self, chunk):
        self.writer.append(chunk, SEGMENT_EVENTS)

    def _version(self):
        return self.catalog.current_version()

    def commit_times(self):
        return [self.started] + [
            e["ts"] for e in self.catalog.history()
            if e["version"] > self.before and e["op"].startswith("txn")
        ]

    def tables(self):
        return list(self.dest.values())

    def _current(self):
        return [self.catalog.read(n) for n in self.dest]

    def lookup(self, convs):
        # the run picks each lookup's conversations with one parity
        return self.dest[self.route(pd.Series(convs)).iloc[0]].read_for_keys(convs)


WORKLOADS = {
    "mor_ticks_reads": MorTicksReads,
    "routed_tail": RoutedTail,
}
