#!/usr/bin/env python3
"""Paired end-to-end comparison of two commits on the benchmark of record.

    python3 tools/bench_pairs.py --parent REV [--change REV|WORKTREE] \
        --workload dbt_build --seeds 3001-3010 [--trace 0] [--dir DIR] [--reuse]

Each side is a fresh `git archive` copy under DIR (`parent/`, `change/`)
with its own `.bench_build`; a third copy of the parent (`parent_aa/`)
runs one A/A pair, so the gap between two copies of the same commit is
reported beside the A/B gap. `--change WORKTREE` archives the working
tree as it stands (tracked and untracked files, `.gitignore` applied)
through a scratch index, so an uncommitted change is measured from a copy
as fresh as the parent's. `perfbench/run.py` runs unchanged in every copy,
for BENCHMARK.json's `run_seconds`.

Before any timed pair, every copy does one discarded run: it compiles the
engine and generates the inputs, so no timed run pays a build. Then one
pair per seed, one run at a time, alternating which side goes first, and
the A/A pair last (parent copy first). Every run must check correctly
with no failed operation. `--reuse` keeps the copies an earlier call
primed from the same trees, so a traced series can follow an untraced one
without rebuilding.

For each end-to-end metric the tool prints each side's median and
quartiles, the change's wins and the median gap against the BENCHMARK.json
bound, and says whether a claimed gain on it would hold: the change wins
at least 9 of 10 pairs (the same share or more) and its median is better
than the parent's by more than the parent's interquartile range.
All runs are also written to DIR/pairs.json.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = ["setup_s", "iter_s", "op_p50_ms"]


def git(*args, env=None):
    return subprocess.run(["git", *args], cwd=ROOT, env=env, check=True,
                          capture_output=True, text=True).stdout.strip()


def tree_of(rev):
    """A tree-ish for `rev`; WORKTREE snapshots the working tree."""
    if rev != "WORKTREE":
        return git("rev-parse", "--verify", rev + "^{tree}")
    with tempfile.TemporaryDirectory() as d:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(d, "index"))
        git("read-tree", "HEAD", env=env)
        git("add", "-A", env=env)
        return git("write-tree", env=env)


def fresh_copy(tree, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", tree], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"bench_pairs: git archive {tree} failed")


def run(copy, workload, seed, seconds, trace):
    """One perfbench run in `copy`; returns its JSON record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=copy, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"bench_pairs: run failed in {copy} (seed {seed}, rc={r.returncode})")
    return json.loads(lines[-1])


def value(rec, metric):
    return rec["metrics"][metric]["value"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def parse_seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 3001-3010 or 7,9,11")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dir", default=os.path.join(tempfile.gettempdir(), "bench_pairs"))
    ap.add_argument("--reuse", action="store_true",
                    help="keep copies an earlier call primed from the same trees")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds)
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    end_to_end = {m["name"]: m for m in bench["end_to_end"]}

    copies = {"parent": tree_of(a.parent), "change": tree_of(a.change)}
    copies["parent_aa"] = copies["parent"]
    paths = {side: os.path.join(a.dir, side) for side in copies}
    stamp = os.path.join(a.dir, "primed.json")
    primed = json.load(open(stamp)) if a.reuse and os.path.exists(stamp) else {}
    if primed.get("trees") != copies:
        for side, tree in copies.items():
            fresh_copy(tree, paths[side])
            print(f"[pairs] {side}: tree {tree[:12]} -> {paths[side]}", flush=True)
        for side in copies:  # compile, generate inputs; discarded
            run(paths[side], a.workload, seeds[0], 1, 0)
            print(f"[pairs] {side}: primed", flush=True)
        with open(stamp, "w") as f:
            json.dump({"trees": copies}, f)

    runs = []

    def timed(side, seed, label=None):
        rec = run(paths[side], a.workload, seed, seconds, a.trace)
        ok = rec["correct"] and rec["failed"] == 0
        runs.append({"side": label or side, "seed": seed, "correct": ok,
                     "metrics": {m: value(rec, m) for m in rec["metrics"]}})
        print(f"[pairs] seed {seed} {side:9s} " + " ".join(
            f"{m}={value(rec, m):.4f}" for m in METRICS if m in rec["metrics"])
            + ("" if ok else "  INCORRECT"), flush=True)

    for i, seed in enumerate(seeds):
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            timed(side, seed)
    timed("parent", seeds[0], "aa_parent")
    timed("parent_aa", seeds[0])

    with open(os.path.join(a.dir, "pairs.json"), "w") as f:
        json.dump({"parent": a.parent, "change": a.change, "trees": copies,
                   "workload": a.workload, "seconds": seconds, "trace": a.trace,
                   "seeds": seeds, "runs": runs}, f, indent=1)

    def series(side, m, seed_list):
        by = {r["seed"]: r["metrics"][m] for r in runs if r["side"] == side}
        return [by[s] for s in seed_list]

    bad = [r for r in runs if not r["correct"]]
    print(f"\n[pairs] {a.workload}, {len(seeds)} pairs (seeds {a.seeds}), "
          f"{len(runs)} runs, {len(bad)} incorrect")
    if a.trace:  # per-layer figures: each side's median over the pairs
        for m in runs[0]["metrics"]:
            p, c = series("parent", m, seeds), series("change", m, seeds)
            print(f"[pairs] {m:45s} parent {statistics.median(p):14.2f}  "
                  f"change {statistics.median(c):14.2f}")
        return
    need = math.ceil(0.9 * len(seeds))
    verdicts = []
    for m in METRICS:
        p, c = series("parent", m, seeds), series("change", m, seeds)
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        sign = 1 if end_to_end[m]["better"] == "lower" else -1
        wins = sum(1 for x, y in zip(p, c) if sign * (x - y) > 0)
        gap = cm / pm - 1.0 if pm else 0.0
        print(f"[pairs] {m:10s} parent {pm:.4f} [{p1:.4f}, {p3:.4f}]  "
              f"change {cm:.4f} [{c1:.4f}, {c3:.4f}]  gap {100 * gap:+.1f}% "
              f"(bound {100 * end_to_end[m]['bound']:.0f}%)  change wins {wins}/{len(seeds)}")
        met = wins >= need and sign * (pm - cm) > p3 - p1 and not bad
        verdicts.append(f"[pairs] claim on {m}: {'MET' if met else 'NOT MET'} "
                        f"(wins {wins}/{len(seeds)}, need {need}; median gain "
                        f"{sign * (pm - cm):.4f} vs parent IQR {p3 - p1:.4f}; "
                        f"incorrect runs {len(bad)})")
    aa = {r["side"]: r["metrics"] for r in runs[-2:]}
    for m in METRICS:
        x, y = aa["aa_parent"][m], aa["parent_aa"][m]
        print(f"[pairs] A/A {m:10s} parent {x:.4f}  second parent copy {y:.4f}  "
              f"gap {100 * (y / x - 1.0) if x else 0.0:+.1f}%")
    print("\n".join(verdicts))

if __name__ == "__main__":
    main()
