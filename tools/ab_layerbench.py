#!/usr/bin/env python3
"""Interleaved A/B runs of the repository benchmark (layerbench/run.py).

Exports a git ref, the parent of the change, with `git archive` into a
temporary directory, then runs one workload there and in the working tree
for each seed, alternating which side runs first so a steady drift of the
box does not favour either. Prints, per metric, each side's median, the
change/parent ratio of the medians, each side's interquartile range, and in
how many pairs the change was better (the direction comes from
BENCHMARK.json). Nothing under layerbench/ is changed; each checkout builds
and caches its own classpath in its .bench_build/.

    python3 tools/ab_layerbench.py --ref HEAD --workload bdb_pipeline --seeds 11 12 13 14
    python3 tools/ab_layerbench.py --ref HEAD~1 --workload query_suite --seeds 1 2 3

The first compares an uncommitted change with the last commit, the second
a committed change with its parent. The ref has no default: once the
change is committed, HEAD is the change itself.

Run it from the root of a checkout. Exits 1 when a run fails or reports
`"correct": false`.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(ref, into):
    """The files of `ref` under a new directory inside `into`."""
    data = subprocess.run(["git", "archive", "--format=tar", ref], cwd=ROOT,
                          stdout=subprocess.PIPE, check=True).stdout
    d = tempfile.mkdtemp(prefix="ab_parent_", dir=into)
    with tarfile.open(fileobj=io.BytesIO(data)) as t:
        t.extractall(d)
    return d


def run(checkout, args, seed, log):
    """One layerbench run in `checkout`: its metrics, or None when it failed."""
    cmd = [sys.executable, "layerbench/run.py", "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(log, "w") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return None
    if p.returncode != 0 or not res.get("correct"):
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def directions():
    """Metric name -> "lower" or "higher", as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", required=True, help="the parent: a git ref")
    ap.add_argument("--workload", required=True, choices=("bdb_pipeline", "query_suite"))
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None,
                    help="where the exported parent and the run logs go (default: a temp dir)")
    ap.add_argument("--json", default=None, help="also write every run's metrics here")
    a = ap.parse_args()

    if a.workdir:
        os.makedirs(a.workdir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="ab_layerbench_", dir=a.workdir)
    parent = export(a.ref, work)
    sides = {"parent": parent, "change": ROOT}
    runs = {"parent": [], "change": []}
    failed = []
    try:
        for i, seed in enumerate(a.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                log = os.path.join(work, f"{side}-{a.workload}-{seed}.log")
                m = run(sides[side], a, seed, log)
                print(f"[ab] seed {seed} {side}: {'ok' if m else 'FAILED, see ' + log}",
                      file=sys.stderr, flush=True)
                runs[side].append(m)
                if m is None:
                    failed.append(f"{side} seed {seed}")
    finally:
        shutil.rmtree(parent, ignore_errors=True)

    better = directions()
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    names = sorted({k for p, c in pairs for k in p.keys() & c.keys()})
    print(f"{a.workload}: {len(pairs)} pairs, parent {a.ref}, seeds {a.seeds}")
    print(f"{'metric':34} {'parent':>12} {'change':>12} {'ratio':>7} {'iqr parent':>11} "
          f"{'iqr change':>11} {'wins':>6}")
    for k in names:
        ps, cs = [p[k] for p, _ in pairs], [c[k] for _, c in pairs]
        pm, cm = statistics.median(ps), statistics.median(cs)
        ratio = f"{cm / pm:7.3f}" if pm else f"{'-':>7}"
        sign = -1 if better.get(k, "lower") == "lower" else 1
        wins = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
        print(f"{k:34} {pm:12.4g} {cm:12.4g} {ratio} {iqr(ps):11.4g} {iqr(cs):11.4g} "
              f"{wins:>3}/{len(pairs)}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"ref": a.ref, "workload": a.workload, "seeds": a.seeds, "runs": runs}, f, indent=1)
    print(f"[ab] run logs in {work}", file=sys.stderr)
    for f in failed:
        print(f"[ab] failed: {f}", file=sys.stderr)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
