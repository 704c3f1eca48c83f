"""CDC benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mor_ticks_reads --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Set-up starts Spark in ``local[4]`` with
a 2 GiB driver heap, generates the workload's WAL from ``--seed`` and
seeds its table; then the workload's ticks run back to back, each
followed by a full read and a few point lookups, until ``--seconds`` have
passed. The converged lake state is compared with the pandas oracle. The
last line of stdout is the result: end-to-end metrics with ``--trace 0``,
per-layer metrics from spans with ``--trace 1``. The line before it
carries the run's detail (per-tick numbers, sample counts, host
calibration and, when traced, the per-batch Spark job counts).
Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
LOOKUP_CONVS = 3


def calibrate() -> float:
    """Milliseconds for a fixed pure-Python CPU loop (median of 5), timed
    before and after each run so a contended host shows beside the run."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1000


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_spark(work: str):
    from etl_spark.session import get_session

    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    spark = get_session(
        "perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)


def data_files(tables) -> dict[str, int]:
    out = {}
    for t in tables:
        for root, _dirs, names in os.walk(os.path.join(t.path, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.path.getsize(p)
    return out


def measure(wl, seconds: float, seed: int, tracer, m: dict) -> None:
    """The closed loop: tick, then read back, until ``seconds`` pass.
    Fills ``m`` as it goes, so the counts survive a failing operation."""
    import numpy as np

    rng = np.random.default_rng(seed)
    convs = wl.conversations()
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())

    def pick(j: int) -> list[str]:
        # LOOKUP_CONVS random conversations of parity j % 2, so lookups
        # alternate between RoutedTail's two tables
        first = 2 * int(rng.integers(0, len(convs) // 2 - LOOKUP_CONVS)) + j % 2
        return convs[first:first + 2 * LOOKUP_CONVS:2]

    # warm the write path, the full read and the lookups of every table:
    # the first of each in a process runs cold
    for _ in range(wl.warmup_ticks):
        if wl.tick() is None:
            break
        wl.commit_times()
        wl.scan()
    for j in range(2):
        wl.lookup(pick(j)).collect()
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < seconds or i % wl.ticks_per_cycle:
        before = data_files(wl.tables())
        if tracer:
            tracer.tick = i
        m["attempted"] += 1
        out = wl.tick()
        if out is None:
            m["attempted"] -= 1
            break
        events, tick_s = out
        commits = wl.commit_times()
        batch_ms = [(b - a) * 1000 for a, b in zip(commits, commits[1:])]
        after = data_files(wl.tables())
        written = sum(s for p, s in after.items() if p not in before)
        m["events"] += events
        m["apply_s"] += tick_s
        m["tick_ms"].append(tick_s * 1000)
        m["batch_ms"] += batch_ms
        m["bytes_written"] += written
        m["attempted"] += len(batch_ms)
        tick = {"events": events, "tick_ms": tick_s * 1000,
                "batch_ms": batch_ms, "bytes": written, **wl.tick_info}
        t = time.perf_counter()
        m["attempted"] += 1
        with span("lake.read"):
            wl.scan()
        tick["scan_ms"] = (time.perf_counter() - t) * 1000
        m["scan_ms"].append(tick["scan_ms"])
        tick["lookup_ms"] = []
        for _ in range(wl.lookups_per_tick):
            keys = pick(len(m["lookup_ms"]))
            m["attempted"] += 1
            t = time.perf_counter()
            with span("lake.lookup"):
                df = wl.lookup(keys)
                df.collect()
            tick["lookup_ms"].append((time.perf_counter() - t) * 1000)
            m["lookup_ms"].append(tick["lookup_ms"][-1])
            if tracer:
                m["lookup_files"].append(len(df.inputFiles()))
        if tracer:
            tracer.tick = None
            snaps = [t.snapshot() for t in wl.tables()]
            m["live_files"].append(sum(len(s.data_files) for s in snaps))
            m["delta_files"].append(
                sum(len(s.delete_source_files) for s in snaps))
        m["ticks"].append(tick)
        i += 1
    m["measured_s"] = time.perf_counter() - t0


def end_to_end(m: dict, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "events_per_s": m["events"] / m["apply_s"],
        "batch_ms_p50": statistics.median(m["batch_ms"]),
        "tick_ms_p50": statistics.median(m["tick_ms"]),
        "scan_ms_p50": statistics.median(m["scan_ms"]),
        "lookup_ms_p50": statistics.median(m["lookup_ms"]),
        "bytes_written_per_event": m["bytes_written"] / m["events"],
        "peak_rss_mb": rss_mb,
        "setup_s": setup_s,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_spark")):
        print(f"no etl_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    names = {w["name"] for w in contract["workloads"]}
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {sorted(names)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from perfbench.trace import LAYERS, Tracer
        from perfbench.workloads import WORKLOADS
        from perfbench import wal

        calib_before = calibrate()
        t = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "run"), args.seed)
        if tracer:
            wl.engine_span = tracer.engine_span
        wl.setup()
        wal_gen_s = statistics.median(wl.wal_gen_s)
        setup_s = session_s + wal_gen_s + wl.seed_s
        m = {"events": 0, "apply_s": 0.0, "batch_ms": [], "tick_ms": [],
             "scan_ms": [], "lookup_ms": [], "bytes_written": 0, "ticks": [],
             "attempted": 0, "lookup_files": [], "live_files": [],
             "delta_files": [], "measured_s": 0.0}
        try:
            measure(wl, args.seconds, args.seed, tracer, m)
            m["attempted"] += 1
            problem = wal.mismatch(wl.state(), wl.applied())
        except Exception:
            # a failed batch, tick or read fails the run; it is counted,
            # reported with its traceback, and produces no speed number
            problem = traceback.format_exc()
            print(problem, file=sys.stderr)
        # an oracle mismatch makes every operation of the run a failure
        failed = m["attempted"] if problem is not None else 0
        rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        spark = None
        calib_after = calibrate()
        detail = {
            "workload": args.workload, "seed": args.seed,
            "measured_s": m["measured_s"], "events": m["events"],
            "ticks": m["ticks"],
            "samples": {"batches": len(m["batch_ms"]),
                        "ticks": len(m["tick_ms"]),
                        "lookups": len(m["lookup_ms"])},
            # too few lookups a run for a percentile above the median to be
            # a metric; recorded for the reader
            "lookup_ms_p75": statistics.quantiles(
                m["lookup_ms"], n=4, method="inclusive")[2]
            if len(m["lookup_ms"]) > 1 else None,
            "setup": {"session_s": session_s, "wal_gen_s": wl.wal_gen_s,
                      "seed_s": wl.seed_s},
            "calibration_ms": {"before": calib_before, "after": calib_after},
            "oracle": "ok" if problem is None else problem.strip().splitlines()[-1],
        }
        if problem is not None:
            print(json.dumps(detail))
            print(json.dumps({"correct": False, "attempted": m["attempted"],
                              "failed": failed, "metrics": {}}))
            return 1
        e2e = end_to_end(m, setup_s, rss_mb)
        if tracer:
            values = tracer.per_layer({
                "session_s": session_s, "wal_gen_s": wal_gen_s,
                "seed_s": wl.seed_s, "events_per_s": e2e["events_per_s"],
                "files_per_trigger": wl.files_per_trigger,
                "lookup_files": m["lookup_files"],
                "live_files": m["live_files"],
                "delta_files": m["delta_files"],
                "bytes_written": m["bytes_written"],
                "calib_before_ms": calib_before, "calib_after_ms": calib_after,
            })
            detail["jobs"] = tracer.job_signature()
            wanted = contract["per_layer"]
            mapped = [n for layer in LAYERS.values() for n in layer["metrics"]]
            if sorted(mapped) != sorted(w["name"] for w in wanted):
                raise RuntimeError("trace.LAYERS and BENCHMARK.json per_layer "
                                   "name different metrics")
        else:
            values = e2e
            wanted = contract["end_to_end"]
        missing = {w["name"] for w in wanted} - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        metrics = {w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
                   for w in wanted}
        print(json.dumps(detail))
        print(json.dumps({"correct": True, "attempted": m["attempted"],
                          "failed": 0, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by another run
            os.rmdir(os.path.dirname(work))


if __name__ == "__main__":
    sys.exit(main())
