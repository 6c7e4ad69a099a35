"""Regenerate ``ingestbench/pins.json``: per workload, its spec and canary
spec, the row count and order-insensitive content hash of its canary
input, and those of its input for seeds ``0 .. --seeds - 1``.  A run fails
set-up when any of these differs, so rerun this only when a change to the
inputs is intended.

Usage, from the repository root::

    python3 ingestbench/make_pins.py --seeds 64
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from ingestbench.run import CANARY_SEED  # noqa: E402
from ingestbench.workloads import WORKLOADS  # noqa: E402


def pin(name: str, seed: int, canary: bool) -> dict:
    return WORKLOADS[name].generate(seed, canary=canary).pin()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, default=64)
    p.add_argument("--procs", type=int, default=2)
    args = p.parse_args()
    with ProcessPoolExecutor(args.procs) as pool:
        canary = {n: pool.submit(pin, n, CANARY_SEED, True) for n in WORKLOADS}
        seeds = {(n, s): pool.submit(pin, n, s, False)
                 for n in WORKLOADS for s in range(args.seeds)}
        out = {n: {"spec": dataclasses.asdict(w.spec),
                   "canary_spec": dataclasses.asdict(w.canary_spec),
                   "canary": canary[n].result(),
                   "seeds": {str(s): seeds[(n, s)].result()
                             for s in range(args.seeds)}}
               for n, w in WORKLOADS.items()}
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
