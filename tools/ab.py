#!/usr/bin/env python3
"""A/B the benchmark between two graft checkouts, in alternating pairs.

    python3 tools/ab.py --parent ../graft-parent --change . \\
        --workload governed_read --pairs 10 --seeds 1,2,3,4,5,6,7,8,9,10 \\
        --claim op_p50_ms --out ab_governed_read.json

The change checkout's BENCHMARK.json fixes the command, the run length
(`run_seconds`) and the end-to-end metrics with their bounds. Each pair
runs that command once in each checkout with the same workload and seed;
even pairs run the parent first, odd pairs the change. For every
end-to-end metric it prints each side's median and quartiles, the share
of pairs the change won, and a verdict:

- `gain`: the change won at least 9/10 of all pairs (ties count for
  neither), the medians differ, in the better direction, by more than
  the parent's interquartile range, and the change failed no more
  operations in total than the parent;
- `WORSE`: the change's median is worse than the parent's by more than
  the metric's bound;
- `unresolved`: the parent's own spread (IQR / median) is wider than the
  bound, and not every change run beats every parent run;
- `within bound` otherwise.

The script only reads the checkouts' benchmark; it changes nothing in them.
"""
import argparse
import json
import os
import subprocess
import sys

def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_once(bench, checkout, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"])]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    if proc.returncode != 0 or result is None or "metrics" not in result:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"ab: run failed in {checkout} (seed {seed}, exit {proc.returncode})")
    return {"seed": seed, "correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def collect(a, bench):
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seeds[i % len(a.seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            r = run_once(bench, checkout, a.workload, seed)
            runs[side].append(r)
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items())),
                  file=sys.stderr, flush=True)
    return {"workload": a.workload, "seconds": bench["run_seconds"], "runs": runs}


def verdict(p, c, better, bound, claimed, more_failures):
    """The verdict on one metric from its paired parent and change values;
    `more_failures` withholds a gain from a change that failed more
    operations than the parent."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
    pm, cm = quantile(p, 0.5), quantile(c, 0.5)
    iqr = quantile(p, 0.75) - quantile(p, 0.25)
    gain = (wins >= 0.9 * len(p) and sign * (cm - pm) > iqr
            and not more_failures)
    worse = sign * (cm - pm) < -bound * abs(pm)
    all_better = all(sign * (y - x) > 0 for x in p for y in c)
    if gain:
        v = "gain"
    elif worse:
        v = "WORSE"
    elif pm and iqr / abs(pm) > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    if claimed and not gain:
        v += " (claim NOT met)"
    return wins, v


def report(data, metrics, claim):
    runs = data["runs"]
    p_runs, c_runs = runs["parent"], runs["change"]
    n = min(len(p_runs), len(c_runs))
    print(f"workload {data['workload']}: {n} pairs, {data['seconds']} s runs")
    for side, rs in runs.items():
        print(f"  {side}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
              f"failed ops {sum(r['failed'] for r in rs)}/{sum(r['attempted'] for r in rs)}")
    more_failures = (sum(r["failed"] for r in c_runs[:n])
                     > sum(r["failed"] for r in p_runs[:n]))
    print(f"  {'metric':14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'delta':>8} {'won':>6}  verdict")
    flagged = 0
    for m in metrics:
        name = m["name"]
        p = [r["metrics"][name] for r in p_runs[:n]]
        c = [r["metrics"][name] for r in c_runs[:n]]
        wins, v = verdict(p, c, m["better"], m["bound"], name == claim, more_failures)
        flagged += v.startswith("WORSE") or "NOT met" in v
        pm, cm = quantile(p, 0.5), quantile(c, 0.5)

        def q(xs, med):
            return f"{med:.4g} [{quantile(xs, 0.25):.4g}, {quantile(xs, 0.75):.4g}]"
        delta = f"{(cm - pm) / abs(pm) * 100:+.1f}%" if pm else "n/a"
        print(f"  {name:14} {q(p, pm):>30} {q(c, cm):>30} {delta:>8} {wins:>3}/{n:<2}  {v}"
              f" (bound {m['bound']:.0%}, {m['better']} is better)")
    return 1 if flagged else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10",
                    help="comma-separated seeds, pair i uses seed i mod len")
    ap.add_argument("--claim", help="the end-to-end metric the change claims to improve")
    ap.add_argument("--out", help="write the raw runs here as JSON")
    a = ap.parse_args()
    a.parent, a.change = os.path.abspath(a.parent), os.path.abspath(a.change)
    a.seeds = [int(s) for s in a.seeds.split(",")]
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    data = collect(a, bench)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1)
    sys.exit(report(data, bench["end_to_end"], a.claim))


if __name__ == "__main__":
    main()
