#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base commit against the working tree.

  python3 scripts/ab_pairs.py --base HEAD~1 --workload dashboard --pairs 10

Run from the repository root. The base commit is exported with `git archive`
into .bench_build/ab/<sha>/ (kept for later calls); the change is this
checkout as it stands, uncommitted edits included. Each pair runs
`python3 perfbench/run.py --workload W --seed S --seconds 30 --trace 0` once
in each tree, one after the other, alternating which side goes first; pair i
uses the i-th of ten fixed seeds (cycled), and 30 s is the benchmark's own
run length. Both trees are built before the first pair, so no build lands
between a pair's runs.

For every end-to-end metric of BENCHMARK.json the script prints each side's
median and quartiles, the change's median over the base's, and the number of
pairs the change won (ties count for neither side). Only pairs whose two runs
are both correct with no failed operation enter the figures. A metric passes
the gain rule when the change won at least nine tenths of all pairs run, the
medians differ by more than the base's interquartile range, and the change
had no more incorrect or missing runs, and no more failed operations, than
the base. Each metric also gets a no-regression verdict against its
BENCHMARK.json bound (see `verdict`), the rule a change that claims no gain
is judged by. Under the table it prints each side's median hypervisor steal
share, read from each run's stamp line, since steal moves wall-clock and CPU
figures. Every run's JSON line, with its steal share and start load average,
is appended to .bench_build/ab/runs.jsonl. Nothing under perfbench/ is
changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(ROOT, ".bench_build", "ab")
SEEDS = [7, 11, 23, 31, 41, 53, 67, 79, 89, 97]


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def export(rev):
    """The base commit's tree under .bench_build/ab/<sha>/."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(AB, sha)
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, dest)
    return sha, dest


def build(tree):
    """The benchmark's own cached build, so no pair pays for it."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"],
                   cwd=tree, check=True)


def contention(stdout):
    """The box's contention during a run: `steal_share` and `loadavg_start`
    from the `run: {...}` stamp line perfbench prints; None where absent."""
    for line in stdout.splitlines():
        if line.startswith("run: "):
            try:
                stamp = json.loads(line[len("run: "):])
            except json.JSONDecodeError:
                break
            return {k: stamp.get(k) for k in ("steal_share", "loadavg_start")}
    return {"steal_share": None, "loadavg_start": None}


def run_once(tree, workload, seed):
    """The run's JSON line, or None when the run did not produce one, and
    the run's contention."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "30", "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
    try:
        out = json.loads(last[0]) if p.returncode == 0 and last else None
    except json.JSONDecodeError:
        out = None
    return out, contention(p.stdout)


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, med, q3


def verdict(base, change, bound, better):
    """No-regression verdict of one metric over clean pairs.

    `within bound`: the change's median is worse than the base's by no more
    than `bound` (a fraction of the base median); `over bound`: worse by
    more. `unresolved`: the base's IQR/median exceeds `bound`, so the base
    alone spreads wider than the bound, unless every change run beats every
    base run."""
    sign = 1 if better == "lower" else -1
    bq1, bm, bq3 = summary(base)
    _, cm, _ = summary(change)
    every_run_wins = all(sign * (c - b) < 0 for c in change for b in base)
    if (bq3 - bq1) / abs(bm) > bound and not every_run_wins:
        return "unresolved"
    return "within bound" if sign * (cm - bm) / abs(bm) <= bound else "over bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="base commit, e.g. HEAD~1")
    ap.add_argument("--workload", required=True, choices=["dashboard", "batch"])
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    better = {m["name"]: m["better"] for m in end_to_end}
    bounds = {m["name"]: m["bound"] for m in end_to_end}
    sha, base_tree = export(a.base)
    trees = {"base": base_tree, "change": ROOT}
    for side, tree in trees.items():
        log(f"building {side} ({tree})")
        build(tree)
    os.makedirs(AB, exist_ok=True)
    results = {"base": [], "change": []}
    failures = {"base": 0, "change": 0}  # runs without a result, or incorrect
    failed_ops = {"base": 0, "change": 0}
    steal = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = SEEDS[i % len(SEEDS)]
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for side in order:
            out, box = run_once(trees[side], a.workload, seed)
            with open(os.path.join(AB, "runs.jsonl"), "a") as f:
                f.write(json.dumps({"workload": a.workload, "side": side, "base": sha,
                                    "pair": i, "seed": seed, "result": out, **box}) + "\n")
            if box["steal_share"] is not None:
                steal[side].append(box["steal_share"])
            failures[side] += out is None or not out["correct"]
            failed_ops[side] += out["failed"] if out else 0
            pair[side] = out
        log(f"pair {i + 1}/{a.pairs} seed {seed} ({' then '.join(order)}): " + ", ".join(
            f"{side} {json.dumps({k: v['value'] for k, v in out['metrics'].items()})}"
            if out else f"{side} no result" for side, out in pair.items()))
        if all(out and out["correct"] and not out["failed"] for out in pair.values()):
            for side in results:
                results[side].append({k: v["value"] for k, v in pair[side]["metrics"].items()})
    n = len(results["base"])
    print(f"{a.workload}: {n} clean pairs of {a.pairs}, base {sha[:12]} vs working tree; "
          f"runs without a result or incorrect: base {failures['base']}, "
          f"change {failures['change']}; failed operations: base {failed_ops['base']}, "
          f"change {failed_ops['change']}")
    # a gain does not count when the change fails more than the base
    clean = failures["change"] <= failures["base"] and failed_ops["change"] <= failed_ops["base"]
    if n == 0:
        sys.exit(1)
    print(f"{'metric':<14} {'base median [q1, q3]':<28} {'change median [q1, q3]':<28} "
          f"{'ratio':>6} {'wins':>6}  gain rule")
    for name, direction in better.items():
        b = [r[name] for r in results["base"]]
        c = [r[name] for r in results["change"]]
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) < 0)
        bq1, bm, bq3 = summary(b)
        cq1, cm, cq3 = summary(c)
        rule = (wins >= 0.9 * a.pairs and sign * (cm - bm) < 0 and abs(cm - bm) > bq3 - bq1
                and clean)
        print(f"{name:<14} {f'{bm:.3f} [{bq1:.3f}, {bq3:.3f}]':<28} "
              f"{f'{cm:.3f} [{cq1:.3f}, {cq3:.3f}]':<28} {cm / bm:>6.3f} {wins:>3}/{a.pairs:<2}  "
              f"{'met' if rule else 'not met'}")
    print("hypervisor steal share, median over runs: " + ", ".join(
        f"{side} {statistics.median(v):.4f}" if v else f"{side} n/a"
        for side, v in steal.items()))
    print("no-regression rule (worse by at most the bound; unresolved when the base "
          "IQR/median exceeds it):")
    for name, direction in better.items():
        b = [r[name] for r in results["base"]]
        c = [r[name] for r in results["change"]]
        _, bm, _ = summary(b)
        _, cm, _ = summary(c)
        worse = (cm - bm) / bm if direction == "lower" else (bm - cm) / bm
        print(f"{name:<14} worse by {worse:+.3f}, bound {bounds[name]:.3f}: "
              f"{verdict(b, c, bounds[name], direction)}")


if __name__ == "__main__":
    main()
