#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs between two commits.

Exports a clean tree of each commit (`git archive`, so no sbt `target/`
directory is shared or copied between the two builds: copied class
directories corrupt each other's incremental compiles), then runs
`perfbench/run.py` in each tree for N pairs per workload. Pair i uses
seed `--seed0 + i` for both sides and alternates which side runs first,
so drift of the host cancels. For every end-to-end metric declared in
the change's `BENCHMARK.json` it prints, per workload, each side's median
and quartiles, how many pairs the change won, the relative change of
the median, and three verdicts:

  claim   the change won at least 9 of 10 pairs (scaled to N) and the
          medians differ by more than the parent's interquartile range;
  worse   the change's median is worse than the parent's by more than
          the metric's `bound`;
  unresolved
          the parent's own spread (interquartile range over median) is
          wider than the metric's `bound`, so the runs cannot tell a change
          within the bound from none; not printed when every change run
          beats every parent run.

It also prints how many runs were not `correct` or had failed
operations, and each side's `attempted` count (median and range): a
night run of 3 passes and one of 4, or a live run of 6 batches and one
of 8, differ there, and a throughput metric can move with that count
alone. Nothing in either tree is changed; the exports are removed
at the end.

Run from the root of a checkout:

    python3 tools/ab_pairs.py HEAD~1 HEAD --workload live_fanout --pairs 10 \\
        --seed0 211 --json /tmp/ab.json

A pair of untraced runs takes about two minutes on a 4-core host, plus
one build per tree on the first run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def git(*args):
    return subprocess.run(["git", *args], check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def export(commit, dest):
    """Writes the committed files of `commit` to the new directory `dest`."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", commit], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {commit} failed")


def run_once(tree, workload, seed, seconds):
    """One untraced perfbench run; its JSON result, or None if it failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, metrics, runs, pairs):
    print(f"\n== {workload}: {pairs} pairs")
    bad = {side: sum(1 for r in runs[side]
                     if r is None or not r.get("correct") or r.get("failed"))
           for side in ("parent", "change")}
    print(f"runs failed, incorrect or with failed operations: "
          f"parent {bad['parent']}, change {bad['change']}")
    attempted = []
    for side in ("parent", "change"):
        xs = [r["attempted"] for r in runs[side] if r and "attempted" in r]
        attempted.append(f"{side} {statistics.median(xs):g} ({min(xs)}-{max(xs)})"
                         if xs else f"{side} none")
    print("attempted operations, median (range): " + ", ".join(attempted))
    print(f"{'metric':<18}{'parent median (q1-q3)':<30}{'change median (q1-q3)':<30}"
          f"{'wins':<8}{'median':>8}  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                for p, c in zip(runs["parent"], runs["change"])
                if p and c and name in p["metrics"] and name in c["metrics"]]
        if not both:
            print(f"{name:<18} no paired samples")
            continue
        ps, cs = [p for p, _ in both], [c for _, c in both]
        pq, cq = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in both if (c < p if lower else c > p))
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        verdict = []
        if wins >= 0.9 * len(both) and gain > pq[2] - pq[0]:
            verdict.append("claim")
        bound = m.get("bound", float("inf"))
        if pq[1] and -gain / pq[1] > bound:
            verdict.append("worse")
        beats_all = max(cs) < min(ps) if lower else min(cs) > max(ps)
        if pq[1] and (pq[2] - pq[0]) / abs(pq[1]) > bound and not beats_all:
            verdict.append("unresolved")
        p_txt = f"{pq[1]:.1f} ({pq[0]:.1f}-{pq[2]:.1f})"
        c_txt = f"{cq[1]:.1f} ({cq[0]:.1f}-{cq[2]:.1f})"
        print(f"{name:<18}{p_txt:<30}{c_txt:<30}{f'{wins}/{len(both)}':<8}"
              f"{rel:>+8.1%}  {' '.join(verdict)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="commit of the A side")
    ap.add_argument("change", help="commit of the B side")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: every "
                         "workload in the change's BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=211)
    ap.add_argument("--seconds", type=float, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--json", help="write every run's result here")
    ap.add_argument("--dir", help="where to export the trees (default: "
                                   "a new temporary directory)")
    a = ap.parse_args()

    shas = {"parent": git("rev-parse", "--verify", a.parent + "^{commit}"),
            "change": git("rev-parse", "--verify", a.change + "^{commit}")}
    base = tempfile.mkdtemp(prefix="ab_pairs-", dir=a.dir)
    trees = {side: os.path.join(base, side) for side in shas}
    try:
        for side, sha in shas.items():
            export(sha, trees[side])
        with open(os.path.join(trees["change"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        seconds = a.seconds or bench["run_seconds"]
        workloads = a.workload or [w["name"] for w in bench["workloads"]]
        results = {}
        for w in workloads:
            runs = {"parent": [], "change": []}
            for i in range(a.pairs):
                seed = a.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_once(trees[side], w, seed, seconds)
                    runs[side].append(r)
                    got = r["metrics"] if r else {}
                    print(f"[{w} pair {i + 1}/{a.pairs} seed {seed}] {side}: " +
                          ", ".join(f"{m['name']}={got.get(m['name'], {}).get('value')}"
                                    for m in bench["end_to_end"]),
                          file=sys.stderr, flush=True)
            results[w] = runs
            report(w, bench["end_to_end"], runs, a.pairs)
        if a.json:
            with open(a.json, "w") as fh:
                json.dump({"commits": shas, "seed0": a.seed0,
                           "seconds": seconds, "runs": results}, fh)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
