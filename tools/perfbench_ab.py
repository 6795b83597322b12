#!/usr/bin/env python3
"""Interleaved A/B of perfbench between two revisions of this repository.

    python3 tools/perfbench_ab.py BASE CHANGE [--pairs 10] [--seed0 101]
        [--workloads q13_trickle,dedup_cascade] [--seconds 8] [--out ab.json]

BASE and CHANGE are each a git revision (checked out with `git worktree add
--detach` under a temporary directory) or the path of an existing checkout
(used in place, e.g. `.` for uncommitted work). Each side builds into its
own CARGO_TARGET_DIR under the temporary directory, so neither checkout's
.bench_build is touched. For every workload the runner makes N pairs of
`perfbench/run.py --trace 0` runs: pair i uses seed SEED0+i for both sides,
and the side that runs first alternates (BASE first on even pairs). It
prints, per workload and metric, each side's median and quartiles, the
median ratio CHANGE/BASE and how many pairs CHANGE won, with "better" taken
from BENCHMARK.json. Worktrees and build directories are removed at exit;
the checkout the runner is started from is left as it was.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def directions():
    """metric name -> "lower"/"higher", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def checkout(spec, tmp, label, worktrees):
    """Directory holding `spec`: the path itself when it is a directory,
    else a detached worktree of the revision."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    path = os.path.join(tmp, label)
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", "--quiet", path, spec],
                   check=True)
    worktrees.append(path)
    return path


def run_once(root, target, workload, seed, seconds):
    """One untraced perfbench run; returns its result object or None."""
    env = dict(os.environ, CARGO_TARGET_DIR=target)
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, env=env, capture_output=True, text=True)
    for line in reversed(r.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(f"# {workload} seed {seed} in {root}: no result (exit {r.returncode})\n")
    return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, runs, better):
    """Print the per-metric table of one workload's pairs."""
    pairs = [(a, b) for a, b in runs if a is not None and b is not None]
    print(f"## {workload}: {len(pairs)} complete pairs of {len(runs)}")
    for side, i in (("base", 0), ("change", 1)):
        done = [p[i] for p in runs if p[i] is not None]
        print(f"#   {side}: correct {sum(r['correct'] for r in done)}/{len(done)}, "
              f"failed ops {sum(r['failed'] for r in done)}/{sum(r['attempted'] for r in done)}")
    names = sorted({k for a, b in pairs for k in a["metrics"]} & {k for a, b in pairs for k in b["metrics"]})
    print(f"{'metric':<20} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'ratio':>7} {'wins':>6}")
    for name in names:
        va = [a["metrics"][name]["value"] for a, b in pairs if name in a["metrics"]]
        vb = [b["metrics"][name]["value"] for a, b in pairs if name in b["metrics"]]
        if len(va) != len(pairs) or len(vb) != len(pairs):
            continue
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(va, vb))
        qa, qb = quartiles(va), quartiles(vb)
        ratio = qb[1] / qa[1] if qa[1] else float("nan")
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
        print(f"{name:<20} {fmt(qa):>30} {fmt(qb):>30} {ratio:>7.3f} {wins:>3}/{len(pairs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--workloads", default="q13_trickle,dedup_cascade")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--out", help="also write every run's result object to this JSON file")
    args = ap.parse_args()

    better = directions()
    tmp = tempfile.mkdtemp(prefix="perfbench-ab-")
    worktrees = []
    results = {}
    try:
        sides = [checkout(args.base, tmp, "base", worktrees),
                 checkout(args.change, tmp, "change", worktrees)]
        targets = [os.path.join(tmp, "target-base"), os.path.join(tmp, "target-change")]
        for root, target in zip(sides, targets):
            env = dict(os.environ, CARGO_TARGET_DIR=target)
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, env=env,
                           check=True, stdout=subprocess.DEVNULL)
        for workload in args.workloads.split(","):
            runs = []
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = (0, 1) if i % 2 == 0 else (1, 0)
                got = [None, None]
                for s in order:
                    got[s] = run_once(sides[s], targets[s], workload, seed, args.seconds)
                    print(f"# {workload} pair {i} seed {seed} {('base', 'change')[s]}: "
                          f"refresh_p50_s {got[s]['metrics'].get('refresh_p50_s', {}).get('value') if got[s] else None}",
                          flush=True)
                runs.append(tuple(got))
            results[workload] = [{"seed": args.seed0 + i, "base": a, "change": b}
                                 for i, (a, b) in enumerate(runs)]
            report(workload, runs, better)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(results, fh, indent=1)
    finally:
        for path in worktrees:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", path],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if worktrees:
            subprocess.run(["git", "-C", ROOT, "worktree", "prune"])
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
