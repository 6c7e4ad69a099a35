"""Ingestion benchmark: one command, two closed-loop workloads.

Usage, from the repository root::

    python3 ingestbench/run.py --workload resume --seed 1 --seconds 20 --trace 0

Workloads: resume, poll_ticks (see ``ingestbench/workloads.py``).  The
session runs at ``local[<usable cores>]`` in this process.  All files go
under ``.ingestbench/`` in the repository root; the run's working
directory is removed at exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics
named in ``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, and
the run's spans are written to ``.ingestbench/spans-<workload>-<seed>.jsonl``.
The line before it is a human-readable summary (sizes, iteration count,
tail percentile, error rate, set-up breakdown).

Exit codes: 0 with a result line; 2 when the package is missing; 3 when a
generated input or a workload's spec differs from its pin in
``ingestbench/pins.json``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CANARY_SEED = 0
RUN_BUDGET_S = 120    # measuring stops this long after the process started


class PinMismatch(Exception):
    pass


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(cores: int, work: str):
    from news_rss_spark.session import get_spark

    spark = get_spark("ingestbench", cpus=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        # a fixed-size heap: left to grow on demand, the heap settled at
        # different sizes from run to run and jobs in small-heap runs were
        # ~30 % slower (more collections), which dominated the spread
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            "-XX:+UseParallelGC -Xms2g -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # one landed file per scan split: the clustered corpus keeps whole
        # buckets in one task and the kernel stage as wide as the layout
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.files.openCostInBytes": "16m",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process this
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from ingestbench.probes import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        return stat[stat.rindex(b")") + 2:][:1] == b"Z"
    except OSError:
        return True


def check_pins(wl, canary_pin: dict, seed: int, pin: dict, pins: dict) -> str:
    """Compare the workload's specs, its canary input and (where one is
    recorded) this seed's input with their pins; return what was checked.
    The specs and the canary are checked on every seed, so neither an edit
    to a workload's spec nor one to the generators it calls can change the
    load unnoticed, even for a seed without a pin of its own."""
    want = pins.get(wl.name)
    if want is None:
        raise PinMismatch(f"{wl.name}: no pins recorded")
    got = {"spec": dataclasses.asdict(wl.spec),
           "canary_spec": dataclasses.asdict(wl.canary_spec),
           "canary": canary_pin}
    for key, value in got.items():
        if want[key] != value:
            raise PinMismatch(f"{wl.name} {key}: generated {value}, "
                              f"pinned {want[key]}")
    seed_pin = want["seeds"].get(str(seed))
    if seed_pin is None:
        return "spec+canary"
    if seed_pin != pin:
        raise PinMismatch(f"{wl.name} input {seed}: generated {pin}, "
                          f"pinned {seed_pin}")
    return "spec+canary+seed"


def run(args, work: str) -> tuple[dict, str]:
    from ingestbench import probes
    from ingestbench.trace import Tracer
    from ingestbench.workloads import WORKLOADS, Ctx

    t_begin = time.perf_counter()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    cores = usable_cores()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    ctx = Ctx(spark=None, work=work, seed=args.seed, seconds=args.seconds,
              cores=cores, deadline=t_begin + RUN_BUDGET_S,
              tracer=Tracer(run_id, enabled=bool(args.trace)))
    wl = WORKLOADS[args.workload](ctx)

    # inputs: generated from the seed and checked against their pins
    t0 = time.perf_counter()
    canary = wl.generate(CANARY_SEED, canary=True)
    wl.inp = wl.generate(args.seed)
    pin = wl.inp.pin()
    pinned = check_pins(wl, canary.pin(), args.seed, pin, pins)
    gen_s = time.perf_counter() - t0

    def restart(n: int):
        """A new session at local[n] in the same, already warm, JVM."""
        ctx.spark.stop()
        ctx.spark = start_session(n, work)
        return ctx.spark

    ctx.restart = restart
    with probes.RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            ctx.spark = start_session(cores, work)
            start_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            wl.land_input()
            land_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            wl.prepare()
            prep_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            wl.warmup(canary)
            warm_s = time.perf_counter() - t0
            setup_s = start_s + warm_s + land_s + prep_s

            rss.reset()
            stall0, t_meas = probes.cpu_stall_us(), time.perf_counter()
            steal0 = probes.cpu_steal()
            if args.trace:
                layer = wl.layers()
                attempted, failed, times = wl.attempted, wl.failed, []
            else:
                m = wl.measure()
                attempted, failed, times = len(m.times), m.failed, m.times
            peak_mb = rss.peak() / 2 ** 20
            stall_pct = ((probes.cpu_stall_us() - stall0) / 1e4
                         / (time.perf_counter() - t_meas))
            steal1, total1 = probes.cpu_steal()
            steal_pct = 100 * (steal1 - steal0[0]) / max(total1 - steal0[1], 1)
            calib_ms = probes.cpu_calibration_ms()
            problems = wl.check()
        finally:
            if ctx.spark is not None:
                stop_session(ctx.spark)

    for msg in problems:
        print(f"correctness: {msg}", file=sys.stderr)
    attempted += 1
    failed += bool(problems)
    summary = {
        "workload": wl.name, "seed": args.seed, "cores": cores,
        "input": pin, "pinned": pinned, "docs_per_iteration": wl.inp.n_docs,
        "generate_s": round(gen_s, 3),
        "setup": {"start_s": start_s, "warmup_s": warm_s, "landing_s": land_s,
                  "prepare_s": prep_s},
        "error_rate": failed / attempted,
        "cpu_stall_pct": round(stall_pct, 1),
        "cpu_steal_pct": round(steal_pct, 1),
        "cpu_calibration_ms": round(calib_ms, 2),
    }
    if args.trace:
        layer.update({"session.warmup_s": warm_s, "session.start_s": start_s,
                      "session.landing_s": land_s, "session.peak_rss_mb": peak_mb})
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
        ctx.tracer.write(os.path.join(ROOT, ".ingestbench",
                                      f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        tail, beyond = probes.tail(times)
        p50 = statistics.median(times)
        summary.update({"iterations": len(times), "tail_percentile": probes.TAIL_PCT,
                        "tail_samples_beyond": beyond,
                        "times_s": [round(t, 4) for t in times]})
        values = {"docs_per_s": wl.inp.n_docs / p50, "tick_p50_s": p50,
                  "tick_tail_s": tail, "setup_s": setup_s}
        summary["peak_rss_mb"] = round(peak_mb, 1)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    result = {"correct": not problems and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, json.dumps(summary)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "news_rss_spark")):
        print(f"news_rss_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from ingestbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".ingestbench", f"work-{args.workload}-"
                        f"{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        result, summary = run(args, work)
    except PinMismatch as exc:
        print(f"input pin mismatch: {exc}", file=sys.stderr)
        return 3
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(summary)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
