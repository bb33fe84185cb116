#!/usr/bin/env python3
"""Paired A/B of the benchmark: a parent commit against a change.

    python3 tools/bench_ab.py --parent <commit> --workload <name> --work <dir>
        [--pairs 10] [--seed 1] [--trace 0]

Run from the repository root. Exports the parent commit, and the change
(the working tree: tracked and untracked files that are not ignored), into
`<work>/parent` and `<work>/change`, with `git archive` and a copy, so the
repository gains no worktree entries. An export of
unchanged content is kept, so its build is reused. Each tree gets its own
`.perfbench/` holding a copy of this checkout's staged `.perfbench/data`
and nothing else: the benchmark's build stamp hashes paths relative to its
own tree, so a copied `launch.txt` would pass the stamp check and launch the
other tree's classes.

Then it runs `perfbench/run.py` in both trees for `--pairs` pairs, each run
as long as BENCHMARK.json's `run_seconds`. Pair i uses seed `--seed + i` on
both sides, and the side that runs first alternates from pair to pair. Per
metric (the end-to-end metrics of BENCHMARK.json, or the per-layer ones with
`--trace 1`) it prints each side's median and quartiles, the number of pairs
the change won (ties count for neither), whether a gain would hold (at
least ten pairs, the change wins at least nine tenths of them and the
medians differ by more than the parent's inter-quartile range) and, for a
metric with a bound, whether the change's median is worse than the parent's
by more than it: `YES` if so, else `unresolved` when the parent's
inter-quartile range, relative to its median, is wider than the bound and
not every run of the change reads better than every run of the parent, else
`no`. A failed run is reported and leaves its pair out. Exit code 1 if any
run failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
MIN_PAIRS = 10  # fewest pairs a gain may rest on


def git(*args, binary=False):
    r = subprocess.run(["git", *args], cwd=ROOT, capture_output=True, check=True)
    return r.stdout if binary else r.stdout.decode().strip()


def tracked_files():
    """Tracked and untracked, not ignored, files of the working tree."""
    out = git("ls-files", "-z", "--cached", "--others", "--exclude-standard", binary=True)
    names = sorted(set(n.decode() for n in out.split(b"\0") if n))
    return [n for n in names if os.path.isfile(os.path.join(ROOT, n))]


def export_commit(rev, dest):
    subprocess.run(["tar", "-x", "-C", dest], input=git("archive", "--format=tar", rev, binary=True),
                   check=True)


def export_worktree(dest):
    for name in tracked_files():
        target = os.path.join(dest, name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy2(os.path.join(ROOT, name), target)


def content_hash(tree):
    """Hash of every file in a fresh export, by relative path."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(tree):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, tree).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def prepare(side, rev, work):
    """Exports one side into <work>/<side>, keeping an identical earlier
    export (and so its build). Returns the tree's path."""
    tree = os.path.join(work, side)
    fresh = tree + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    if rev is None:
        export_worktree(fresh)
    else:
        export_commit(rev, fresh)
    want = content_hash(fresh)
    stamp = os.path.join(tree, ".bench_ab_tree")
    if os.path.exists(stamp) and open(stamp).read() == want:
        shutil.rmtree(fresh)
    else:
        shutil.rmtree(tree, ignore_errors=True)
        os.rename(fresh, tree)
        with open(stamp, "w") as f:
            f.write(want)
    data = os.path.join(ROOT, ".perfbench", "data")
    if os.path.isdir(data) and not os.path.isdir(os.path.join(tree, ".perfbench", "data")):
        shutil.copytree(data, os.path.join(tree, ".perfbench", "data"))
    return tree


def run(tree, args, seconds, seed, log):
    cmd = ["python3", "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(args.trace)]
    r = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    with open(log, "w") as f:
        f.write(r.stdout + r.stderr)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    if r.returncode != 0 or not res.get("correct") or res.get("failed"):
        return None
    return {k: m["value"] for k, m in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, pairs):
    """Per metric: each side's quartiles, the change's wins, whether a gain
    holds and whether the change is worse than the metric's bound (`YES`,
    `unresolved` or `no`)."""
    rows = []
    for m in metrics:
        ok = [(p[m["name"]], c[m["name"]]) for p, c in pairs
              if p.get(m["name"]) is not None and c.get(m["name"]) is not None]
        if not ok:
            continue
        lower = m["better"] == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in ok)
        par, chg = quartiles([p for p, _ in ok]), quartiles([c for _, c in ok])
        better = chg[1] < par[1] if lower else chg[1] > par[1]
        gain = (len(ok) >= MIN_PAIRS and wins >= 0.9 * len(ok) and better
                and abs(chg[1] - par[1]) > par[2] - par[0])
        past = "no"
        if "bound" in m:
            rel = lambda x: x / abs(par[1]) if par[1] else 0.0
            worse = rel(chg[1] - par[1] if lower else par[1] - chg[1])
            cs, ps = [c for _, c in ok], [p for p, _ in ok]
            dominated = max(cs) < min(ps) if lower else min(cs) > max(ps)
            if worse > m["bound"]:
                past = "YES"
            elif rel(par[2] - par[0]) > m["bound"] and not dominated:
                past = "unresolved"
        rows.append({"metric": m["name"], "pairs": len(ok), "parent": par, "change": chg,
                     "wins": wins, "gain": gain, "past_bound": past})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True, help="directory for the two trees and the run logs")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    work = os.path.abspath(a.work)
    os.makedirs(work, exist_ok=True)
    parent = git("rev-parse", a.parent)
    trees = {s: prepare(s, parent if s == "parent" else None, work) for s in SIDES}
    spec = json.load(open(os.path.join(trees["change"], "BENCHMARK.json")))
    metrics = spec["per_layer" if a.trace else "end_to_end"]

    pairs, failed = [], []
    for i in range(a.pairs):
        seed = a.seed + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        got = {}
        for s in order:
            log = os.path.join(work, f"{s}-{a.workload}-{seed}-{a.trace}.log")
            got[s] = run(trees[s], a, spec["run_seconds"], seed, log)
            if got[s] is None:
                failed.append(log)
            print(f"pair {i + 1}/{a.pairs} seed {seed} {s}: "
                  + ("FAILED, see " + log if got[s] is None else
                     " ".join(f"{m['name']}={got[s].get(m['name'])}" for m in metrics[:6])),
                  flush=True)
        if got["parent"] is not None and got["change"] is not None:
            pairs.append((got["parent"], got["change"]))

    rows = summarize(metrics, pairs)
    print(f"\n{a.workload}: {len(pairs)} pairs, parent {parent[:12]} against the working tree")
    print(f"{'metric':<36}{'parent q1/median/q3':>30}{'change q1/median/q3':>30}{'won':>7}"
          "  gain  past bound")
    fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
    for r in rows:
        print(f"{r['metric']:<36}{fmt(r['parent']):>30}{fmt(r['change']):>30}"
              f"{r['wins']:>4}/{r['pairs']:<2}  {'yes' if r['gain'] else 'no ':<4}  "
              f"{r['past_bound']}")
    if len(pairs) < MIN_PAIRS:
        print(f"{len(pairs)} pairs: a gain needs at least {MIN_PAIRS}")
    for log in failed:
        print(f"failed run: {log}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
