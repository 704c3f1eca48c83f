"""Workload inputs and the oracle they are checked against.

Every input comes from ``cdc.changelog.generate_changelog`` with the
workload seed, in this process, before anything is timed. The engine only
ever sees the parquet files written here. The oracle is
``expected_final_state`` over exactly the events written so far, with the
text normalization done in pandas, so it shares no code with the Spark
path.
"""

from __future__ import annotations

import os
import re
import time

import numpy as np
import pandas as pd

from etl_spark.cdc.changelog import (
    ChangelogSpec,
    expected_final_state,
    write_changelog,
)

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# Whitespace runs the engine's normalization collapses (ASCII whitespace
# plus the unicode spaces the generator sprinkles into text).
_WS = re.compile(r"[\s\xa0\u2000-\u200b\u202f\u3000]+")


def split_initial(events: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(initial inserts, churn) in emit order. The generator emits every
    key's first insert before any churn, so the churn part carries LSNs
    above the initial part in every source partition: a tail of it
    appended after a seeded table passes the per-partition watermark."""
    n_keys = len(events[["conv_id", "turn_idx"]].drop_duplicates())
    events = events.sort_values("_seq", kind="stable")
    return events[events["_seq"] < n_keys], events[events["_seq"] >= n_keys]


class Tail:
    """Closed-loop source: hands out consecutive slices of the churn
    stream, in emit order, and remembers everything handed out."""

    def __init__(self, churn: pd.DataFrame, chunk_events: int):
        self.churn = churn
        self.chunk_events = chunk_events
        self.pos = 0

    def next(self) -> pd.DataFrame | None:
        if self.pos + self.chunk_events > len(self.churn):
            return None
        chunk = self.churn.iloc[self.pos:self.pos + self.chunk_events]
        self.pos += self.chunk_events
        return chunk

    def emitted(self) -> pd.DataFrame:
        return self.churn.iloc[:self.pos]


def append_segments(chunk: pd.DataFrame, wal_dir: str, n_partitions: int,
                    segment_events: int) -> int:
    """Append ``chunk`` to the WAL as segments of about
    ``segment_events`` events per source partition; returns the file
    count. ``write_changelog`` pins strictly increasing mtimes above every
    existing segment, so file delivery order is LSN order."""
    per_part = max(1, round(len(chunk) / n_partitions / segment_events))
    spec = ChangelogSpec(
        n_partitions=n_partitions, segments_per_partition=per_part,
        evolution_cutover=0.0,
    )
    return len(write_changelog(chunk, wal_dir, spec))


class RoutedWal:
    """Heterogeneous WAL writer: the changelog layout of
    ``write_changelog`` plus a ``dest_table`` column naming the
    destination of each event. Segment mtimes are pinned strictly
    increasing across calls, in (partition, segment) order, for the same
    delivery-order reason as ``write_changelog``."""

    COLS = ["dest_table", "op", "lsn", "ts", "conv_id", "turn_idx", "role",
            "text", "tool"]

    def __init__(self, wal_dir: str, route):
        self.wal_dir = wal_dir
        self.route = route
        self.n_written = 0
        self.last_mtime = 0.0

    def append(self, chunk: pd.DataFrame, segment_events: int) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("dest_table", pa.string()), ("op", pa.string()),
            ("lsn", pa.int64()), ("ts", pa.timestamp("us")),
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()),
        ])
        chunk = chunk.assign(dest_table=self.route(chunk["conv_id"]))
        paths = []
        for p, part in chunk.groupby("source_partition", sort=True):
            pdir = os.path.join(self.wal_dir, f"source_partition={int(p)}")
            os.makedirs(pdir, exist_ok=True)
            n_segs = max(1, round(len(part) / segment_events))
            for idx in np.array_split(np.arange(len(part)), n_segs):
                seg = part.iloc[idx][self.COLS]
                path = os.path.join(pdir, f"seg-{self.n_written:05d}.parquet")
                self.n_written += 1
                pq.write_table(
                    pa.Table.from_pandas(seg, preserve_index=False)
                    .cast(schema),
                    path,
                )
                paths.append(path)
        base = max(time.time(), self.last_mtime + 0.01)
        for j, path in enumerate(paths):
            self.last_mtime = base + 0.01 * j
            os.utime(path, (self.last_mtime, self.last_mtime))
        return len(paths)


def _normalize_text(s):
    return s if s is None else _WS.sub(" ", s).strip(" ")


def expected_state(events: pd.DataFrame) -> pd.DataFrame:
    """Converged table state after applying ``events`` with the
    post-dedup text normalization."""
    exp = expected_final_state(events)
    exp["text"] = [_normalize_text(s) for s in exp["text"]]
    exp["role"] = [r if r is None else r.strip().lower() for r in exp["role"]]
    return _canonical(exp)


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[STATE_COLS].copy()
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]").astype("int64")
    for c in ("role", "text", "tool"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def mismatch(state_df, events: pd.DataFrame) -> str | None:
    """None when the Spark frame ``state_df`` holds exactly the oracle's
    rows, else a one-line description of the first difference."""
    got = _canonical(state_df.select(*STATE_COLS).toPandas())
    exp = expected_state(events)
    if len(got) != len(exp):
        return f"{len(got)} rows in the lake, oracle has {len(exp)}"
    diff = ~(got.eq(exp) | (got.isna() & exp.isna())).all(axis=1)
    if diff.any():
        i = int(np.flatnonzero(diff.to_numpy())[0])
        return (f"{int(diff.sum())} rows differ; first at key "
                f"({got.at[i, 'conv_id']}, {got.at[i, 'turn_idx']}): "
                f"lake {got.iloc[i].to_dict()} oracle {exp.iloc[i].to_dict()}")
    return None
