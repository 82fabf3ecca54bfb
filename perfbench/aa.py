"""A/A and spread check: run interleaved sets of the same tree, then report
each end-to-end metric's median, quartiles, spread and A/A delta against
the bound in BENCHMARK.json.

    python3 perfbench/aa.py --workload backfill --runs 10 --sets 2

Run i of every set uses seed `--seed0 + i`, and the sets take turns
(A1 B1 A2 B2 ...), so a slow stretch of the host lands on both. Spread is
(q3 - q1) / median over one set's runs, with quartiles as
`statistics.quantiles(values, n=4)` gives them; the target is a third of
the bound. The A/A delta is how much worse set B's median is than set A's,
as a share of set A's; it must stay within the bound. setup_s is exempt
from the spread limit but not from the delta.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed}, exit {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"run incorrect: seed {seed}: {result}")
    return {"wall_s": wall, **{k: v["value"] for k, v in result["metrics"].items()}}


def worse_by(base: float, new: float, better: str) -> float:
    return (new - base) / base if better == "lower" else (base - new) / base


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--seed0", type=int, default=1)
    args = p.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets: list[list[dict]] = [[] for _ in range(args.sets)]
    for i in range(args.runs):
        for s in range(args.sets):
            r = one_run(spec["command"], args.workload, args.seed0 + i,
                        spec["run_seconds"])
            sets[s].append(r)
            print(f"set {'AB'[s] if args.sets <= 2 else s} seed "
                  f"{args.seed0 + i}: " + " ".join(
                      f"{k}={v:.4g}" for k, v in r.items()), flush=True)

    ok = True
    print(f"\n{args.workload}: {args.runs} runs x {args.sets} sets")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        line = [f"{name:18s}"]
        meds = []
        for runs in sets:
            vals = [r[name] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            meds.append(med)
            flag = "" if name == "setup_s" else (
                " OVER" if spread > bound else (
                    " >1/3" if spread > bound / 3 else ""))
            ok &= not flag.strip() == "OVER"
            line.append(f"med={med:.5g} q1={q1:.5g} q3={q3:.5g} "
                        f"spread={spread:.3f}{flag}")
        if len(meds) > 1:
            delta = worse_by(meds[0], meds[1], m["better"])
            ok &= delta <= bound
            line.append(f"aa_worse_by={delta:+.3f} (bound {bound})"
                        + (" OVER" if delta > bound else ""))
        print(" | ".join(line))
    walls = [r["wall_s"] for runs in sets for r in runs]
    print(f"run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
