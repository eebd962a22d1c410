"""Steadiness check: two interleaved sets of runs of one commit.

    python3 perfbench/steady.py --workload tail --runs 10 [--seed 100]

Run ``i`` of each set uses seed ``seed + i``; within a pair the set that
goes first alternates. For every end-to-end metric it prints each set's
median and quartiles, the spread (quartile distance over median) and the
gap between the two medians, both against the metric's bound from
``BENCHMARK.json``. Counts that depend only on seed and size must repeat
exactly between the two runs of a seed; any that differ are flagged.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed ({p.returncode}):\n"
                           + p.stderr[-3000:])
    info = next(json.loads(ln[5:]) for ln in lines if ln.startswith("info:"))
    return {**json.loads(lines[-1]), "info": info, "wall_s": wall}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    sets: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.runs):
        seed = args.seed + i
        for name in ("AB" if i % 2 == 0 else "BA"):
            r = one_run(args.workload, seed, args.seconds)
            sets[name].append(r)
            h = r["info"]["host"]
            print(f"{name} seed={seed} wall_s={r['wall_s']:.0f} attempted={r['attempted']} failed={r['failed']} "
                  f"correct={r['correct']} stolen_cpu_s={h['stolen_cpu_s']} "
                  f"load1={h['load1_start']}->{h['load1_end']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)

    ok = True
    print(f"\n{'metric':26s} {'set':3s} {'q1':>11s} {'median':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        vals = {k: [r["metrics"][name]["value"] for r in v if name in r["metrics"]]
                for k, v in sets.items()}
        if not all(len(v) >= 2 for v in vals.values()):
            continue
        meds = {}
        for k, v in vals.items():
            q1, med, q3, sp = spread(v)
            meds[k] = med
            flag = "" if name == "setup_s" or sp <= bound else "  SPREAD OVER BOUND"
            ok &= not flag
            print(f"{name:26s} {k:3s} {q1:11.5g} {med:11.5g} {q3:11.5g} "
                  f"{sp:7.3f} {bound:6.2f}{flag}")
        worse = (meds["B"] - meds["A"]) / meds["A"]
        if m["better"] == "higher":
            worse = -worse
        flag = "" if worse <= bound else "  GAP OVER BOUND"
        ok &= not flag
        print(f"{name:26s} gap B vs A (worse +): {worse:+.3f}{flag}")

    diag = sorted({n for v in sets.values() for r in v for n in r["info"].get("p50", {})})
    if diag:
        print("\nprinted, not gated (spread over the pooled runs of both sets):")
    for name in diag:
        vals = [r["info"]["p50"][name] for v in sets.values() for r in v]
        q1, med, q3, sp = spread(vals)
        print(f"{name:26s} {q1:11.5g} {med:11.5g} {q3:11.5g} {sp:7.3f}")

    shares = {k: sum(r["failed"] for r in v) / sum(r["attempted"] for r in v)
              for k, v in sets.items()}
    print(f"\nfailed share: A={shares['A']} B={shares['B']}")
    ok &= shares["A"] == shares["B"]
    for a, b in zip(sets["A"], sets["B"]):
        if a["info"]["counts"] != b["info"]["counts"]:
            ok = False
            print(f"COUNTS DIFFER seed={a['info']['seed']}: "
                  f"{a['info']['counts']} != {b['info']['counts']}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
