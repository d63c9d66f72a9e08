#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark: a base git rev against this checkout.

    python3 tools/pipebench_ab.py --base HEAD~1 --seeds 5

Checks the base rev out into a temporary `git worktree`, then for every
workload and seed runs `pipebench/run.py --trace 0` in the base checkout and
in this one back to back (base, change, base, change, ...), so both sides
see the same host regime. Each run's `correct` is printed as it finishes;
at the end, per workload, every end-to-end metric of BENCHMARK.json is
summarised: base median and interquartile range, change median, the
change/base ratio of the medians, and the number of seed pairs the change
won. The script only invokes `pipebench/run.py`; it never edits anything
under `pipebench/`. The worktree is removed on exit.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout.strip()


def run_bench(checkout, workload, seed, seconds):
    cmd = [sys.executable, "pipebench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return {"correct": False, "metrics": {}, "exit": proc.returncode}
    res["exit"] = proc.returncode
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarise(workload, pairs, spec):
    print(f"\n[ab] {workload}: {len(pairs)} pairs")
    print(f"[ab] {'metric':<16} {'base_med':>10} {'base_iqr':>10} {'change_med':>10} "
          f"{'ratio':>7} {'wins':>6}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in pairs
                if name in b["metrics"] and name in c["metrics"]]
        if not both:
            print(f"[ab] {name:<16} (no value)")
            continue
        base = [b for b, _ in both]
        change = [c for _, c in both]
        q1, q3 = quartiles(base)
        bm, cm = statistics.median(base), statistics.median(change)
        wins = sum((c < b) if lower else (c > b) for b, c in both)
        ratio = cm / bm if bm else float("nan")
        print(f"[ab] {name:<16} {bm:>10.4g} {q3 - q1:>10.4g} {cm:>10.4g} {ratio:>7.3f} "
              f"{wins:>3}/{len(both)}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git rev to compare this checkout against")
    ap.add_argument("--seeds", type=int, default=5, help="seeds 1..N per workload")
    ap.add_argument("--workloads", nargs="+", choices=names, default=names)
    ap.add_argument("--seconds", type=float, default=spec.get("run_seconds", 20))
    ap.add_argument("--out", help="also write every run's result line to this JSON file")
    args = ap.parse_args()

    base_rev = git("rev-parse", "--short", args.base)
    worktree = tempfile.mkdtemp(prefix="pipebench_ab_")
    os.rmdir(worktree)
    git("worktree", "add", "--detach", worktree, base_rev)
    runs = {}
    try:
        for workload in args.workloads:
            pairs = []
            for seed in range(1, args.seeds + 1):
                pair = []
                for side, checkout in (("base", worktree), ("change", ROOT)):
                    res = run_bench(checkout, workload, seed, args.seconds)
                    print(f"[ab] {workload} seed={seed} {side}@"
                          f"{base_rev if side == 'base' else 'checkout'} correct={res['correct']}",
                          flush=True)
                    pair.append(res)
                if all(r["correct"] for r in pair):
                    pairs.append(pair)
                runs.setdefault(workload, []).append({"seed": seed, "base": pair[0],
                                                      "change": pair[1]})
            summarise(workload, pairs, spec)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT,
                       capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"base": base_rev, "runs": runs}, fh, indent=1)
    failed = sum(not r[side]["correct"] for rs in runs.values() for r in rs
                 for side in ("base", "change"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
