"""route_batch runs its per-destination merges concurrently inside the
batch's one catalog transaction.

Pinned here: the worker threads keep the caller's job group (a job-count
gate sees every merge job, and the count equals the one-after-the-other
apply's), and a failure in any destination aborts the whole transaction
only after every worker has returned — no catalog pointer moves, no
transaction branch or commit marker is left behind, and a fault-free
re-run converges exactly like a run that never failed.
"""

from __future__ import annotations

import os

import pytest

from etl_spark.cdc import route_batch
from etl_spark.cdc.state import CommitLog
from test_router import WAL_SCHEMA, ev, mk_catalog, turns_rows, users_rows

# Spark jobs of one two-destination copy-on-write batch over seeded
# tables, measured on the one-after-the-other apply: the router's own
# accounting collect plus each merge's jobs.
JOBS_PER_BATCH = 12


def _batches(spark):
    b0 = spark.createDataFrame(
        [
            ev("turns", "I", 1, conv="c1", turn=0, role="user", text="hi"),
            ev("turns", "I", 2, conv="c2", turn=0, role="user", text="yo"),
            ev("users", "I", 3, uid=7, name="ada"),
            ev("users", "I", 4, uid=8, name="bob"),
        ],
        WAL_SCHEMA,
    )
    b1 = spark.createDataFrame(
        [
            ev("turns", "U", 5, conv="c1", turn=0, role="user", text="hi!"),
            ev("turns", "I", 6, conv="c1", turn=1, role="assistant", text="ok"),
            ev("turns", "D", 7, conv="c2", turn=0),
            ev("users", "U", 8, uid=7, name="ada l."),
            ev("users", "I", 9, uid=9, name="cy"),
        ],
        WAL_SCHEMA,
    )
    return b0, b1


EXPECTED_TURNS = {("c1", 0, "user", "hi!"), ("c1", 1, "assistant", "ok")}
EXPECTED_USERS = {(7, "ada l."), (8, "bob"), (9, "cy")}


def _pointers(cat):
    """Catalog version sequence: each version's table -> table version."""
    return [
        {n: int(e["version"]) for n, e in h["tables"].items()}
        for h in cat.history()
    ]


def test_route_batch_job_count_pinned_under_one_job_group(spark, tmp_path):
    cat, _turns, _users = mk_catalog(spark, tmp_path)
    b0, b1 = _batches(spark)
    route_batch(spark, b0, cat, batch_id=0)

    sc = spark.sparkContext
    group = f"router-jobs-{os.getpid()}-{id(tmp_path)}"
    sc.setJobGroup(group, "route_batch job-count pin")
    try:
        stats = route_batch(spark, b1, cat, batch_id=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(stats["tables"]) == ["turns", "users"]
    # worker threads that lost the caller's job group would leave only
    # the router's own jobs in it
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == JOBS_PER_BATCH
    assert turns_rows(cat.read("turns")) == EXPECTED_TURNS
    assert users_rows(cat.read("users")) == EXPECTED_USERS


def test_route_batch_failure_aborts_every_destination(spark, tmp_path):
    cat, turns, users = mk_catalog(spark, tmp_path)
    log = CommitLog(str(tmp_path / "commits"))
    b0, b1 = _batches(spark)
    route_batch(spark, b0, cat, batch_id=0, commit_log=log)

    before = cat.entries()
    heads = (turns.current_version(), users.current_version())

    def boom(df):
        raise RuntimeError("users transform failed")

    # "users" sorts after "turns", so the turns merge is still running
    # (or done, on its branch) when the users worker raises
    with pytest.raises(RuntimeError, match="users transform failed"):
        route_batch(
            spark, b1, cat, batch_id=1, commit_log=log,
            transforms={"users": boom},
        )
    assert cat.entries() == before
    assert (turns.current_version(), users.current_version()) == heads
    for t in (turns, users):
        assert not [b for b in t.branches() if b.startswith("txn-")]
    assert not log.is_committed("wal", 1)
    assert turns_rows(cat.read("turns")) == {
        ("c1", 0, "user", "hi"), ("c2", 0, "user", "yo"),
    }

    # the fault-free re-run converges to the never-failed run's rows and
    # catalog version sequence
    s1 = route_batch(spark, b1, cat, batch_id=1, commit_log=log)
    assert log.is_committed("wal", 1)

    ref, _, _ = mk_catalog(spark, tmp_path / "ref")
    route_batch(spark, b0, ref, batch_id=0)
    r1 = route_batch(spark, b1, ref, batch_id=1)
    assert s1["catalog_version"] == r1["catalog_version"]
    assert _pointers(cat) == _pointers(ref)
    assert turns_rows(cat.read("turns")) == EXPECTED_TURNS
    assert users_rows(cat.read("users")) == EXPECTED_USERS
    assert turns_rows(ref.read("turns")) == EXPECTED_TURNS
    assert users_rows(ref.read("users")) == EXPECTED_USERS
