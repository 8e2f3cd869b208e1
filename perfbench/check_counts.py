#!/usr/bin/env python3
"""Count repeatability check: run the traced benchmark twice on one
workload and seed, then list every key whose jobs, stages, tasks or
shuffle bytes differ between the runs or between the traced passes of
one run. Those keys' counts are reported as [min, max] spreads; every
other key's counts repeat exactly.

    python3 perfbench/check_counts.py --workload corpus_sf0.05 [--seed 1]

Writes ``.perfbench/traces/repeat_<workload>.json`` and prints a
summary; exits 1 if a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from layers import REPEATABLE  # noqa: E402


def _traced_run(workload: str, seed: int, seconds: str, tag: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"traced run {tag} failed {result['failed']} operations")
    path = os.path.join(ROOT, ".perfbench", "traces", f"trace_{workload}_{seed}.json")
    kept = path.replace(".json", f".{tag}.json")
    shutil.move(path, kept)
    with open(kept) as f:
        return json.load(f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", default="5")
    args = p.parse_args()
    runs = [_traced_run(args.workload, args.seed, args.seconds, t) for t in ("a", "b")]
    values: dict[str, dict[str, list]] = {}
    for run in runs:
        for passes in run["warm_keys"]:
            for key, rec in passes.items():
                for c in REPEATABLE:
                    if c in rec:
                        values.setdefault(key, {}).setdefault(c, []).append(rec[c])
    unstable = {}
    for key, counts in sorted(values.items()):
        spread = {c: [min(v), max(v)] for c, v in counts.items() if min(v) != max(v)}
        if spread:
            unstable[key] = spread
    report = {"workload": args.workload, "seed": args.seed,
              "keys": len(values), "unstable": unstable}
    out = os.path.join(ROOT, ".perfbench", "traces", f"repeat_{args.workload}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"{len(values) - len(unstable)}/{len(values)} keys repeat their counts exactly")
    for key, spread in unstable.items():
        print(f"  {key}: " + ", ".join(f"{c} {lo:g}..{hi:g}" for c, (lo, hi) in spread.items()))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
