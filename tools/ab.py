#!/usr/bin/env python3
"""Paired A/B of the repo benchmark on two checkouts.

    python3 tools/ab.py A_DIR B_DIR --workload ifs --pairs 10 --seed0 101

A_DIR is the base (e.g. a `git clone` of the parent commit), B_DIR the
change. Pair i runs `perfbench/run.py --workload W --seed S+i --trace 0`
once in each checkout, alternating which side runs first, so host drift
falls on both sides alike, for the `run_seconds` A's BENCHMARK.json
fixes. Each pair's end-to-end metrics are printed as they land, with the
host steal time (CPU time the hypervisor gave other guests) that
`run.py` reports for each run, and a failed run (non-zero exit or
`correct` false) with the tail of its stderr. At the end, each side's
median steal, then per metric each side's median and quartiles over
the pairs where both runs succeeded, the number of pairs B wins out of
all pairs run (a pair with a failed side, and a tie, counts for
neither), and whether a
gain for B resolves: B wins at least nine tenths of all pairs, the
medians differ by more than the distance between A's quartiles, and B
fails no more runs than A. Each checkout builds its own `.bench_build/`
on its first run; do not run another benchmark or a compile in either
checkout meanwhile.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One untraced benchmark run: (metrics, None), or (None, why) if it
    failed. The metrics include the run's host steal seconds as
    `host_steal_s`, when `run.py` printed them."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = {}
    if p.returncode != 0 or not out.get("correct"):
        tail = "\n".join(p.stderr.strip().splitlines()[-20:])
        return None, (f"exit {p.returncode}, correct={out.get('correct')}"
                      f"\n{tail}")
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    steal = re.search(r"host-steal=([0-9.]+)s", p.stdout)
    if steal:
        metrics["host_steal_s"] = float(steal.group(1))
    return metrics, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()

    with open(os.path.join(a.a_dir, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    names = list(better)
    pairs = []
    failed = {"A": 0, "B": 0}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        got = {}
        for side in order:
            got[side], why = run(a.a_dir if side == "A" else a.b_dir,
                                 a.workload, seed, spec["run_seconds"])
            if why is not None:
                failed[side] += 1
                print(f"pair {i} seed={seed}: {side} FAILED, {why}",
                      flush=True)
        if got["A"] is None or got["B"] is None:
            continue
        pairs.append(got)
        print(f"pair {i} seed={seed} first={order[0]}: " + ", ".join(
            f"{n} {got['A'][n]:.4g} -> {got['B'][n]:.4g}"
            for n in names + ["host_steal_s"] if n in got["A"] and
            n in got["B"]), flush=True)

    print(f"{a.workload}: {len(pairs)} of {a.pairs} pairs complete, "
          f"failed runs A {failed['A']}, B {failed['B']}")
    if not pairs:
        sys.exit(1)
    steal = {side: [p[side]["host_steal_s"] for p in pairs
                    if "host_steal_s" in p[side]] for side in ("A", "B")}
    print("  host steal s: " + ", ".join(
        f"{side} median {statistics.median(xs):.1f} over {len(xs)} runs"
        if xs else f"{side} not reported" for side, xs in steal.items()))
    for n in names:
        xa = [p["A"][n] for p in pairs]
        xb = [p["B"][n] for p in pairs]
        sign = -1 if better[n] == "lower" else 1
        wins = sum(1 for u, v in zip(xa, xb) if sign * (v - u) > 0)
        losses = sum(1 for u, v in zip(xa, xb) if sign * (v - u) < 0)
        qa, qb = quartiles(xa), quartiles(xb)
        gap = sign * (qb[1] - qa[1])
        resolved = (wins >= 0.9 * a.pairs and gap > qa[2] - qa[0]
                    and failed["B"] <= failed["A"])
        print(f"  {n} ({better[n]} is better): "
              f"A median {qa[1]:.4g} [q1 {qa[0]:.4g}, q3 {qa[2]:.4g}], "
              f"B median {qb[1]:.4g} [q1 {qb[0]:.4g}, q3 {qb[2]:.4g}], "
              f"B wins {wins}/{a.pairs} (loses {losses}), "
              f"median change {100 * (qb[1] / qa[1] - 1) if qa[1] else 0:+.1f}%"
              f", gain for B {'resolved' if resolved else 'not resolved'}")


if __name__ == "__main__":
    main()
