"""Steadiness check: run one workload in two interleaved sets of runs and
say whether the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload web_resume [--runs 10] [--first-seed 100]

Run from the repository root. Set A takes seeds first-seed, +2, +4, ...,
set B the odd offsets; runs alternate A, B, A, B. For every end-to-end
metric it prints each set's median and quartiles, the spread
(q3 - q1) / median of each set and of all runs together, and the shift
of B's median against A's, signed so that positive is worse. The sets
agree when every spread and the size of every shift are within the
metric's bound, every run was correct, and both sets failed the same
share of their operations. Exit code 0 when they agree, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from fractions import Fraction
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sets: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.runs):
        for j, name in enumerate("AB"):
            seed = args.first_seed + 2 * i + j
            t0 = time.perf_counter()
            res = run_once(spec, args.workload, seed)
            wall = time.perf_counter() - t0
            sets[name].append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(f"{name} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {vals}",
                  flush=True)

    agree = True
    for s in sets.values():
        agree &= all(r["correct"] for r in s)
    shares = {
        name: {Fraction(r["failed"], r["attempted"]) for r in s}
        for name, s in sets.items()
    }
    same_share = len(shares["A"] | shares["B"]) == 1
    agree &= same_share
    print(f"failed share per run: {sorted(map(float, shares['A'] | shares['B']))} "
          f"({'same' if same_share else 'DIFFERENT'})")
    print(f"{'metric':<14}{'set':>4}{'q1':>11}{'median':>11}{'q3':>11}{'spread':>9}")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        med = {}
        for set_name, s in sets.items():
            vals = [r["metrics"][name]["value"] for r in s]
            q1, med[set_name], q3 = quartiles(vals)
            sp = spread(vals)
            print(f"{name:<14}{set_name:>4}{q1:>11.4f}{med[set_name]:>11.4f}"
                  f"{q3:>11.4f}{sp:>9.3f}")
            agree &= sp <= bound
        both = [r["metrics"][name]["value"] for s in sets.values() for r in s]
        sign = 1 if m["better"] == "lower" else -1
        shift = sign * (med["B"] - med["A"]) / med["A"]
        ok = abs(shift) <= bound and spread(both) <= bound
        agree &= ok
        print(f"{name:<14}{'all':>4}{'':>33}{spread(both):>9.3f}  "
              f"B vs A {shift:+.3f} (bound {bound}, third {bound / 3:.3f}) "
              f"{'ok' if ok else 'OUT OF BOUND'}")
    print("sets agree" if agree else "sets DISAGREE")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
