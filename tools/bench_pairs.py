#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench/run.py, with a verdict per
end-to-end metric. Run from the repository root:

    python3 tools/bench_pairs.py --parent HEAD~1 --workload queries \\
        --pairs 10 --seed 2 --out BENCH_pairs.json

The parent revision is exported once (`git archive`, which leaves the
repository's own metadata untouched) to a directory outside the checkout
(--parent-dir); the change is the checkout's working tree. Each side builds
its own perfbench classes. Every run lasts BENCHMARK.json's run_seconds.
Odd pairs run the parent first, even pairs the change first. Every run is
written to --out as soon as it finishes, in the shape {command, parent,
change, seed, run_seconds, host, order, runs: {workload: [{pair, side,
correct, failed, attempted, <metric>: value, ...}]}}. An existing --out is
extended only when its parent, change, seed and run_seconds are the ones
of this call; --report-only prints the table of a finished file without
running.

For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' medians and quartiles, the change's wins (ties count for neither)
and a verdict: `gain` when the change wins at least 9/10 of the pairs and
the medians differ, in its favour, by more than the parent's interquartile
range; `WORSE` when the change's median is worse than the parent's by more
than the metric's bound; `unresolved` when neither holds, the parent's own
spread is wider than the bound, and not every change run beats every parent
run; otherwise `within bound`. perfbench/ itself is not edited.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def export(rev, dest):
    """The committed files of `rev` in `dest` (made once)."""
    if os.path.isdir(dest):
        return
    tmp = dest + ".tmp"
    os.makedirs(tmp)
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
    os.rename(tmp, dest)


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def run_once(cwd, workload, seed, seconds):
    """One perfbench run; its result line (the last JSON line on stdout)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"correct": False, "error": (p.stderr or p.stdout)[-500:]}
    r = json.loads(lines[-1])
    out = {"correct": r["correct"], "failed": r["failed"], "attempted": r["attempted"]}
    out.update({k: m["value"] for k, m in r["metrics"].items()})
    return out


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """(wins, verdict) over paired runs, by the rule in the module doc."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    iqr = p3 - p1
    gained = sign * (pm - cm)  # > 0: the change's median is better
    if wins >= 0.9 * len(parent) and gained > iqr:
        return wins, "gain"
    if pm and -gained / abs(pm) > bound:
        return wins, "WORSE"
    beats_all = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if pm and iqr / abs(pm) > bound and not beats_all:
        return wins, "unresolved"
    return wins, "within bound"


def report(doc, bench):
    for wl, runs in doc["runs"].items():
        pairs = sorted({r["pair"] for r in runs})
        side = {(r["pair"], r["side"]): r for r in runs}
        full = [i for i in pairs if (i, "parent") in side and (i, "change") in side]
        bad = [r for r in runs if not r.get("correct")]
        print(f"\n{wl}: {len(full)} pairs, {len(bad)} runs not correct")
        print(f"  {'metric':<12} {'parent median [q1, q3]':>28} {'change median [q1, q3]':>28} "
              f"{'wins':>6}  verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            ps = [side[(i, "parent")].get(name) for i in full]
            cs = [side[(i, "change")].get(name) for i in full]
            if len(full) < 2 or None in ps or None in cs:
                continue
            (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
            wins, v = verdict(ps, cs, m["better"], m["bound"])
            print(f"  {name:<12} {pm:>12.4g} [{p1:.4g}, {p3:.4g}]".ljust(43)
                  + f" {cm:>12.4g} [{c1:.4g}, {c3:.4g}]".ljust(29)
                  + f" {wins:>3}/{len(full):<2}  {v}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", default="HEAD", help="parent revision (default HEAD)")
    ap.add_argument("--parent-dir", help="export directory, outside the checkout "
                    "(default: <tmp>/bench_pairs_<rev>)")
    ap.add_argument("--workload", action="append", choices=("parse_files", "queries"),
                    help="repeatable; default both")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default="BENCH_pairs.json")
    ap.add_argument("--report-only", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if os.path.exists(a.out):
        with open(a.out) as f:
            doc = json.load(f)
    elif a.report_only:
        raise SystemExit(f"bench_pairs: no {a.out}")
    if not a.report_only:
        seconds = bench["run_seconds"]
        rev = git("rev-parse", a.parent)
        change = git("rev-parse", "HEAD") + (
            "+dirty" if git("status", "--porcelain", "--untracked-files=no") else "")
        settings = {"parent": rev, "change": change, "seed": a.seed,
                    "run_seconds": seconds}
        if not os.path.exists(a.out):
            doc = {"command": f"python3 perfbench/run.py --workload <w> --seed {a.seed} "
                              f"--seconds {seconds} --trace 0",
                   **settings,
                   "host": f"{len(os.sched_getaffinity(0))} CPUs, "
                           f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') / 2**30:.0f} GB",
                   "order": "pairs alternate which side runs first (odd pairs: parent first)",
                   "runs": {}}
        differ = {k: (doc.get(k), v) for k, v in settings.items() if doc.get(k) != v}
        if differ:
            raise SystemExit(f"bench_pairs: {a.out} was run with other settings "
                             f"(recorded, now): {differ}")
        pdir = a.parent_dir or os.path.join(tempfile.gettempdir(), f"bench_pairs_{rev[:12]}")
        if os.path.realpath(pdir).startswith(os.path.realpath(root) + os.sep):
            raise SystemExit("bench_pairs: --parent-dir must be outside the checkout")
        export(rev, pdir)
        for wl in a.workload or ["parse_files", "queries"]:
            runs = doc["runs"].setdefault(wl, [])
            first = max((r["pair"] for r in runs), default=0) + 1
            for i in range(first, first + a.pairs):
                order = [("parent", pdir), ("change", root)]
                for side, cwd in (order if i % 2 else order[::-1]):
                    r = {"pair": i, "side": side, **run_once(cwd, wl, a.seed, seconds)}
                    runs.append(r)
                    print(json.dumps({"workload": wl, **r}), flush=True)
                    with open(a.out + ".tmp", "w") as f:
                        json.dump(doc, f, indent=1)
                    os.replace(a.out + ".tmp", a.out)
    report(doc, bench)


if __name__ == "__main__":
    main()
