"""Rewrite ``perfbench/pins.json``, the outputs the benchmark checks against.

    python3 perfbench/pin.py --seeds 0-20

Runs the catalog pass twice (the two passes must agree, or nothing is
written) and the monthly job once per seed, with the engine as it is in
the checkout. Re-pin only in a change that means to alter the engine's
output, and say so in that change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", type=seed_range, required=True, help="e.g. 0-20")
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench import workloads as w

    run = w.Run(ROOT, "pin", 0, 0, trace=False)
    host.pin_environment(run.run_dir)
    pins: dict = {w.MONTHLY: {}}
    try:
        replica = w.events_replica(run)
        spark = w.setup(run)
        passes = []
        for _ in range(2):
            run.detail.pop("catalog_outputs", None)
            w.catalog_pass(run, spark, replica, {})
            passes.append(run.detail["catalog_outputs"])
        if passes[0] != passes[1]:
            print(f"catalog outputs differ between passes:\n{passes}", file=sys.stderr)
            return 1
        pins[w.CATALOG] = passes[0]
        for seed in args.seeds:
            run.seed = seed
            deals, comp = w.fixture(run, w.MONTHLY_SCENARIOS)
            w.monthly_job(run, spark, deals, comp, {})
            out = run.detail["monthly_outputs"][-1]
            pins[w.MONTHLY][str(seed)] = {"rows": out["merged_rows"], "digest": out["digest"]}
            print(w.MONTHLY, seed, pins[w.MONTHLY][str(seed)], flush=True)
    finally:
        w.stop_jvm()
        shutil.rmtree(run.run_dir, ignore_errors=True)
    if run.problems and any("no pinned" not in p for p in run.problems):
        print("\n".join(run.problems), file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "perfbench", "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
