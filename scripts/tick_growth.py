#!/usr/bin/env python3
"""Measure how poll-tick cost grows with the stream sink's history.

Runs ``--ticks`` availableNow poll ticks (default 80) of
``ingestbench.inputs.poll_ticks_input(TickSpec(20, 2, ticks), seed)``
through ``run_streaming_feed_ingestion_exactly_once``, in the session
``ingestbench.run.start_session`` builds, one landed snapshot file per
tick.  Prints, per tick, its seconds, Spark jobs and Spark stages, then
the median seconds of the first and the last 20 ticks, their ratio (the
growth), the Spark jobs and stages of each of the last 20 ticks and the
sink's row count.

    python3 scripts/tick_growth.py --ticks 80 --seed 1

Run it from the checkout to measure; it imports that checkout's
``news_rss_spark`` and ``ingestbench`` (read-only).  All files go to a
temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WINDOW = 20   # ticks in each of the two medians


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--ticks", type=int, default=80)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.ticks < 2 * WINDOW:
        p.error(f"--ticks must be at least {2 * WINDOW}")
    return args


def land(feeds: str, rows, t: int) -> None:
    """Land tick ``t``'s snapshot file, hidden until renamed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ingestbench.inputs import NOW
    from ingestbench.workloads import TICK_ARROW

    table = pa.Table.from_pylist(
        [{"feed_id": f, "xml": x, "fetched_at": NOW} for f, x in rows],
        schema=TICK_ARROW)
    tmp = f"{feeds}/.tick-{t:05d}.parquet"
    pq.write_table(table, tmp)
    os.rename(tmp, f"{feeds}/tick-{t:05d}.parquet")


def jobs(spark) -> dict[int, int]:
    """{job id: stage count} of every Spark job in the status store so
    far."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = {}
    while it.hasNext():
        j = it.next()
        out[j.jobId()] = j.stageIds().size()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    from ingestbench.inputs import NOW, TickSpec, poll_ticks_input
    from ingestbench.run import configure_env, start_session, stop_session
    from news_rss_spark.streaming.stream import (
        run_streaming_feed_ingestion_exactly_once,
    )

    work = tempfile.mkdtemp(prefix="tick-growth-")
    try:
        configure_env(work)
        spark = start_session(len(os.sched_getaffinity(0)), work)
        try:
            inp = poll_ticks_input(TickSpec(20, 2, args.ticks), args.seed)
            feeds, sink, ckpt = (os.path.join(work, d)
                                 for d in ("feeds", "sink", "ckpt"))
            os.makedirs(feeds)
            secs, n_jobs, n_stages = [], [], []
            for t in range(args.ticks):
                land(feeds, inp.ticks[t], t)
                before = jobs(spark)
                t0 = time.perf_counter()
                run_streaming_feed_ingestion_exactly_once(spark, feeds, sink,
                                                          ckpt, now_utc=NOW)
                secs.append(time.perf_counter() - t0)
                new = [n for j, n in jobs(spark).items() if j not in before]
                n_jobs.append(len(new))
                n_stages.append(sum(new))
                print(f"tick {t}: {secs[-1]:.3f} s, {n_jobs[-1]} jobs,"
                      f" {n_stages[-1]} stages", flush=True)
            first = statistics.median(secs[:WINDOW])
            last = statistics.median(secs[-WINDOW:])
            rows = spark.read.parquet(sink).count()
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"median first {WINDOW} ticks: {first:.3f} s")
    print(f"median last {WINDOW} ticks: {last:.3f} s")
    print(f"growth (last / first): {last / first:.2f}")
    print(f"jobs per tick, last {WINDOW}: {n_jobs[-WINDOW:]}")
    print(f"stages per tick, last {WINDOW}: {n_stages[-WINDOW:]}")
    print(f"sink rows: {rows}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
