#!/usr/bin/env python3
"""Run alternating parent/change pairs of ``ingestbench/run.py`` and compare.

Each pair runs the benchmark once in the parent checkout and once in the
change checkout, for one workload and seed, untraced and for the
``run_seconds`` of ``BENCHMARK.json``; which side goes first
alternates from pair to pair, so a drift of the host over time hits both
sides alike.  The report gives, per end-to-end metric of
``BENCHMARK.json``, each side's median and quartiles and the number of
pairs the change won, then every failed or incorrect run and the host
probes ``cpu_steal_pct`` and ``cpu_calibration_ms`` of each run.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload resume --seed 1 --pairs 10 --out pairs.jsonl

``--out`` appends one JSON line per pair; ``--report`` prints the table of
saved pairs (several files, e.g. two seeds) without running anything.
Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
RUN_TIMEOUT_S = 900   # a run that takes longer counts as failed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", help="checkout of the parent commit")
    p.add_argument("--change", help="checkout of the change")
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out", help="append each pair as a JSON line here")
    p.add_argument("--report", nargs="+", metavar="JSONL",
                   help="print the table of saved pairs and exit")
    args = p.parse_args(argv)
    if not args.report and not all((args.parent, args.change, args.workload,
                                    args.seed is not None)):
        p.error("--parent, --change, --workload and --seed are required"
                " unless --report is given")
    return args


def run_once(checkout: str, args, seconds: float) -> dict:
    """One untraced benchmark run: its summary and result, or a failure
    record."""
    cmd = [sys.executable, "ingestbench/run.py", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds), "--trace", "0"]
    os.sync()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: {' | '.join(tail)}"}
    return {"summary": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def run_pairs(args, seconds: float) -> list[dict]:
    pairs = []
    for i in range(args.pairs):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        pair = {"workload": args.workload, "seed": args.seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(getattr(args, side), args, seconds)
        pairs.append(pair)
        print(f"pair {i + 1}/{args.pairs} done ({order[0]} first): "
              + ", ".join(f"{s} {_brief(pair[s])}" for s in SIDES),
              file=sys.stderr, flush=True)
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps(pair) + "\n")
    return pairs


def _brief(run: dict) -> str:
    if "error" in run:
        return "FAILED"
    return " ".join(f"{k}={v['value']:.4g}"
                    for k, v in run["result"]["metrics"].items())


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs: list[dict], end_to_end: list[dict]) -> None:
    ok = [p for p in pairs if all("error" not in p[s] for s in SIDES)]
    keys = sorted({(p["workload"], p["seed"]) for p in pairs})
    print(f"{len(pairs)} pairs ({len(ok)} with both runs complete):",
          ", ".join(f"{w} seed {s}" for w, s in keys))
    print(f"{'metric':<14}{'side':<8}{'median':>12}{'Q1':>12}{'Q3':>12}"
          f"{'IQR/med':>9}  change wins")
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        vals = {s: [p[s]["result"]["metrics"][name]["value"] for p in ok]
                for s in SIDES}
        if not vals["parent"]:
            continue
        wins = sum((c > b) if higher else (c < b)
                   for b, c in zip(vals["parent"], vals["change"]))
        for s in SIDES:
            q1, med, q3 = _quartiles(vals[s])
            tail = f"  {wins}/{len(ok)}" if s == "change" else ""
            print(f"{name:<14}{s:<8}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{(q3 - q1) / med if med else 0:>9.3f}{tail}")
    bad = [(i, s, p[s]) for i, p in enumerate(pairs) for s in SIDES
           if "error" in p[s] or not p[s]["result"]["correct"]
           or p[s]["result"]["failed"]]
    print(f"failed or incorrect runs: {len(bad)}")
    for i, s, run in bad:
        print(f"  pair {i + 1} {s}: "
              + (run.get("error") or f"correct={run['result']['correct']}"
                 f" failed={run['result']['failed']}"))
    for probe in ("cpu_steal_pct", "cpu_calibration_ms"):
        for s in SIDES:
            xs = [p[s]["summary"][probe] for p in pairs if "error" not in p[s]]
            if xs:
                print(f"{probe} {s}: {min(xs):.4g}-{max(xs):.4g}"
                      f" (median {statistics.median(xs):.4g})")


def main(argv=None) -> int:
    args = parse_args(argv)
    bench_root = args.change or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(bench_root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.report:
        pairs = []
        for path in args.report:
            with open(path) as fh:
                pairs.extend(json.loads(line) for line in fh if line.strip())
    else:
        pairs = run_pairs(args, bench["run_seconds"])
    report(pairs, bench["end_to_end"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
