#!/usr/bin/env python3
"""A/B of two git revisions on the repository benchmark (perfbench).

    python3 tools/perfbench_ab.py BASE CHANGE [--pairs 10] [--seeds 301-310]
        [--workloads lakehouse,operator_inventory] [--seconds 5] [--tmp /tmp]

Checks each revision out into its own `git worktree` under --tmp, then
runs `python3 perfbench/run.py --trace 0` there for N pairs per workload.
Pair i uses seed i of the seed list (cycled) and alternates which side
runs first, so a machine that speeds up or slows down during the A/B
hits both sides alike. For each workload and end-to-end metric of
BENCHMARK.json it prints both medians, both quartile pairs, the share
of pairs the change won (ties win nothing), and the change of the
median against the metric's bound. It writes nothing under perfbench/
and never touches BENCHMARK.json; --json saves the raw runs elsewhere.
The worktrees are removed at the end unless --keep is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = subprocess.run(["git", "rev-parse", "--show-toplevel"], capture_output=True, text=True,
                      check=True, cwd=os.path.dirname(os.path.abspath(__file__))).stdout.strip()


def git(*args, cwd=REPO):
    return subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True, check=True).stdout.strip()


def parse_seeds(spec):
    """'301-310' or '1,7919' or a mix: '1,301-303'."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def make_worktree(rev, tmp, label):
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(tmp, f"perfbench_ab-{label}-{sha[:10]}")
    if os.path.exists(path):
        # a worktree kept by an earlier --keep run keeps its build
        if git("rev-parse", "HEAD", cwd=path) == sha and not git("status", "--porcelain", cwd=path):
            return sha, path
        subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO, capture_output=True)
    git("worktree", "add", "--detach", path, sha)
    return sha, path


def run_once(tree, workload, seed, seconds):
    """One benchmark run; returns its JSON result, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = res.stdout.rstrip("\n").split("\n")
    if res.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(workload, pairs, metrics, out):
    def side(i, name):
        return [p[i]["metrics"][name]["value"] for p in pairs if p[0] and p[1] and name in p[i]["metrics"]]

    ok = [p for p in pairs if p[0] and p[1]]
    out(f"\n== {workload}: {len(ok)} of {len(pairs)} pairs complete")
    for i, label in ((0, "base"), (1, "change")):
        runs = [p[i] for p in pairs if p[i]]
        out(f"   {label}: correct {sum(r['correct'] for r in runs)}/{len(runs)}, "
            f"failed ops {sum(r['failed'] for r in runs)}, "
            f"attempted {sorted(set(r['attempted'] for r in runs))}")
    out(f"   {'metric':<18} {'base med':>12} {'base q1..q3':>23} {'change med':>12} "
        f"{'change q1..q3':>23} {'won':>6} {'change':>8} {'bound':>6}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a, b = side(0, name), side(1, name)
        if not a or not b:
            out(f"   {name:<18} (not reported)")
            continue
        am, bm = statistics.median(a), statistics.median(b)
        aq, bq = quartiles(a), quartiles(b)
        won = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        rel = (bm - am) / am if am else 0.0
        worse = rel if lower else -rel
        if worse > m["bound"]:
            verdict = "WORSE than bound"
        elif abs(bm - am) > aq[1] - aq[0] and won >= 0.9 * len(a):
            verdict = "gain"
        else:
            verdict = "within bound"
        out(f"   {name:<18} {am:>12.4g} {aq[0]:>11.4g}..{aq[1]:<11.4g} {bm:>12.4g} "
            f"{bq[0]:>11.4g}..{bq[1]:<11.4g} {won:>2}/{len(a):<3} {rel:>+8.1%} {m['bound']:>6.2f}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="301-310")
    ap.add_argument("--workloads", default="lakehouse,operator_inventory")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--tmp", default="/tmp", help="where the worktrees go")
    ap.add_argument("--json", help="also write every run's result here")
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    args = ap.parse_args()

    seeds = parse_seeds(args.seeds)
    workloads = args.workloads.split(",")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    trees = []
    try:
        for rev, label in ((args.base, "base"), (args.change, "change")):
            trees.append(make_worktree(rev, args.tmp, label))
        print(f"base   {trees[0][0]}\nchange {trees[1][0]}", flush=True)
        results = {}
        for w in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = seeds[i % len(seeds)]
                order = (0, 1) if i % 2 == 0 else (1, 0)
                pair = [None, None]
                for side in order:
                    pair[side] = run_once(trees[side][1], w, seed, args.seconds)
                pairs.append(pair)
                print(f"{w} pair {i + 1}/{args.pairs} seed {seed}: " + ", ".join(
                    f"{lbl} rows_read_per_op={r['metrics']['rows_read_per_op']['value'] if r else 'FAILED'}"
                    for lbl, r in zip(("base", "change"), pair)), flush=True)
            results[w] = [{"seed": seeds[i % len(seeds)], "base": p[0], "change": p[1]}
                          for i, p in enumerate(pairs)]
            report(w, pairs, metrics, print)
        if args.json:
            with open(args.json, "w") as fh:
                json.dump({"base": trees[0][0], "change": trees[1][0], "workloads": results}, fh, indent=1)
    finally:
        if not args.keep:
            for _, path in trees:
                subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO, capture_output=True)
            subprocess.run(["git", "worktree", "prune"], cwd=REPO, capture_output=True)


if __name__ == "__main__":
    main()
