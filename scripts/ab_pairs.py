#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark in two checkouts.

    python3 scripts/ab_pairs.py <parent checkout> <change checkout> \
        --workload docs-x64 --seeds 701-706 [--seconds 10]

For each seed it runs `perfbench/run.py --trace 0` once in each checkout,
one after the other, the side that goes first alternating from pair to
pair so that drift on the host falls on both sides alike. Each checkout
builds into its own `.bench_build` (`CARGO_TARGET_DIR` is set per side),
so the two builds never overwrite each other. Nothing under `perfbench/`
is edited.

It prints each pair's end-to-end metrics, then per metric the median of
each side, the change against the parent, the parent's interquartile
range and the number of pairs the change won, "won" in the direction
`BENCHMARK.json` gives each metric. It exits non-zero when a
run fails or is not correct, or when the two sides' triple digests
differ for a seed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    """`701-706` or `701,703,705`."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    """One untraced run: its end-to-end metrics and triple digest."""
    env = dict(os.environ,
               CARGO_TARGET_DIR=os.path.join(os.path.abspath(checkout),
                                             ".bench_build"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = r.stdout.splitlines()
    detail = next((json.loads(x[len("detail: "):]) for x in lines
                   if x.startswith("detail: ")), None)
    if r.returncode != 0 or detail is None:
        sys.exit(f"ab_pairs: {checkout} seed {seed} exited with "
                 f"{r.returncode}:\n" +
                 "\n".join(lines[-5:] + r.stderr.splitlines()[-20:]))
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"ab_pairs: {checkout} seed {seed} is not correct")
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    t = detail.get("triples", {})
    return metrics, f"{t.get('rows')}:{t.get('digest')}"


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_of)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args(argv)
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        higher = {m["name"] for m in json.load(f)["end_to_end"]
                  if m["better"] == "higher"}

    pairs = []
    for i, seed in enumerate(a.seeds):
        sides = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            sides.reverse()
        got = {name: run_once(path, a.workload, seed, a.seconds)
               for name, path in sides}
        (pm, pd), (cm, cd) = got["parent"], got["change"]
        if pd != cd:
            sys.exit(f"ab_pairs: seed {seed}: triple digests differ: "
                     f"parent {pd}, change {cd}")
        pairs.append((pm, cm))
        names = sorted(set(pm) & set(cm))
        print(f"seed {seed} ({sides[0][0]} first) digest {pd}: " +
              ", ".join(f"{n} {pm[n]:.4g} -> {cm[n]:.4g}" for n in names),
              flush=True)

    print(f"\n{a.workload}, {len(pairs)} pairs "
          f"(median parent -> change, change %, parent IQR, change wins):")
    for n in sorted(set(pairs[0][0]) & set(pairs[0][1])):
        p = [x[0][n] for x in pairs]
        c = [x[1][n] for x in pairs]
        mp, mc = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        sign = 1 if n in higher else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        pct = (mc - mp) / mp * 100 if mp else 0.0
        print(f"  {n:14s} {mp:10.4g} -> {mc:10.4g} {pct:+7.1f}%  "
              f"IQR {q1:.4g}-{q3:.4g} ({q3 - q1:.3g})  wins {wins}/{len(p)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
