#!/usr/bin/env python3
"""Interleaved parent/change A/B of one perfbench workload.

    python3 tools/perf_ab.py <workload> <seed> [<seed> ...] [--base REV] [--parent-dir DIR]

Run from the repository root. The parent is `git archive <REV>` (default
HEAD~1) unpacked into a fresh directory; the change is the working tree.
Each side builds itself from source through its own `perfbench/run.py`
(its `--selfcheck` first, so no build lands inside a pair), which is the
only thing this script runs. A built checkout is never copied: sbt's
incremental analysis holds absolute paths, so compiling a copy deletes
the original's class files.

For each seed the two sides run back to back, for BENCHMARK.json's
`run_seconds`, and which side goes first alternates from seed to seed.
The script prints every run's end-to-end metrics, then, per metric of
BENCHMARK.json: both medians, both quartile pairs, the parent's IQR,
the median gap, how many pairs the change wins, and the relative move
against the metric's bound. Pairs in which either run reports
`calib_drift` (its CPU probe slowed by more than 25%), is not
`correct: true`, or failed an operation are flagged.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(f"[perf_ab] {msg}", file=sys.stderr, flush=True)


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def parent_checkout(rev, parent_dir):
    """Unpacks `git archive <rev>` into parent_dir, unless a previous call
    already unpacked the same commit there (its build is then reused)."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    parent_dir = parent_dir or os.path.join(tempfile.gettempdir(), f"graft-ab-{sha[:12]}")
    stamp = os.path.join(parent_dir, ".ab-commit")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == sha:
                log(f"reusing {parent_dir} ({sha[:12]})")
                return parent_dir, sha
        raise SystemExit(f"{parent_dir} holds another commit; pass a fresh --parent-dir")
    if os.path.exists(parent_dir):
        raise SystemExit(f"{parent_dir} exists and is not a perf_ab checkout")
    tmp = parent_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    archive = subprocess.Popen(["git", "archive", "--format=tar", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    with tarfile.open(fileobj=archive.stdout, mode="r|") as tar:
        tar.extractall(tmp)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")
    with open(os.path.join(tmp, ".ab-commit"), "w") as f:
        f.write(sha + "\n")
    os.rename(tmp, parent_dir)
    log(f"unpacked {sha[:12]} into {parent_dir}")
    return parent_dir, sha


def run_once(checkout, workload, seed, seconds):
    """One `perfbench/run.py` run; returns its report and result lines,
    or None when it exited non-zero or printed no result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return None
    return {"report": json.loads(lines[-2])["report"], "result": json.loads(lines[-1])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    ap.add_argument("--base", default="HEAD~1", help="git revision of the parent (default HEAD~1)")
    ap.add_argument("--parent-dir", help="where to unpack the parent (default: the temp dir)")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    parent_dir, sha = parent_checkout(a.base, a.parent_dir)
    sides = {"parent": parent_dir, "change": ROOT}

    # build both sides up front (run.py builds on first use; its
    # --selfcheck is the cheapest call that does), so no sbt compile
    # lands between the runs of a pair
    for side, checkout in sides.items():
        log(f"building {side}")
        if subprocess.run([sys.executable, "perfbench/run.py", "--selfcheck"], cwd=checkout,
                          stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).returncode != 0:
            raise SystemExit(f"{side}: perfbench/run.py --selfcheck failed in {checkout}")

    pairs = []  # (seed, first side, {side: run or None})
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        runs = {}
        for side in order:
            log(f"seed {seed}: {side}")
            runs[side] = run_once(sides[side], a.workload, seed, bench["run_seconds"])
        pairs.append((seed, order[0], runs))
    report(a.workload, sha, pairs, metrics)
    return 0


def report(workload, sha, pairs, metrics):
    """Prints the per-run table and the per-metric summary as markdown.
    pairs: [(seed, side that ran first, {"parent": run, "change": run})]."""
    print(f"## {workload}: parent {sha[:12]} vs working tree, "
          f"{len(pairs)} interleaved pairs (seeds {' '.join(str(p[0]) for p in pairs)})")
    print()
    names = [m["name"] for m in metrics]
    print("| seed | side | " + " | ".join(f"`{x}`" for x in names) + " | checks |")
    print("|---|---|" + "---|" * len(names) + "---|")
    flagged = 0
    for seed, first, runs in pairs:
        bad = any(r is None or r["report"]["calib_drift"] or not r["result"]["correct"]
                  or r["result"]["failed"] for r in runs.values())
        flagged += bad
        for side in (first, "change" if first == "parent" else "parent"):
            r = runs[side]
            if r is None:
                print(f"| {seed} | {side} | " + " | ".join("–" for _ in names) + " | run failed |")
                continue
            res = r["result"]
            notes = f"correct: {str(res['correct']).lower()}, failed {res['failed']}/{res['attempted']}"
            if r["report"]["calib_drift"]:
                notes += ", **calib_drift**"
            print(f"| {seed}{' ⚑' if bad else ''} | {side} | " +
                  " | ".join(fmt(res["metrics"][x]["value"]) for x in names) + f" | {notes} |")
    print()

    complete = [runs for _, _, runs in pairs if all(runs.values())]
    n = len(complete)
    print(f"{n} complete pairs, {flagged} flagged (⚑); statistics over the complete pairs.")
    print()
    print("| metric | parent median | parent Q1–Q3 | change median | change Q1–Q3 "
          "| parent IQR | median gap | change better in | move vs bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [r["parent"]["result"]["metrics"][name]["value"] for r in complete]
        chg = [r["change"]["result"]["metrics"][name]["value"] for r in complete]
        if not par:
            continue
        pm, cm = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        ties = sum(c == p for p, c in zip(par, chg))
        move = (cm - pm) / pm if pm else 0.0
        worse = move > 0 if lower else move < 0
        verdict = "better" if not worse else "within" if abs(move) <= m["bound"] else "**past**"
        print(f"| `{name}` ({m['unit']}) | {fmt(pm)} | {fmt(p1)}–{fmt(p3)} | {fmt(cm)} | "
              f"{fmt(c1)}–{fmt(c3)} | {fmt(p3 - p1)} | {fmt(abs(cm - pm))} | "
              f"{wins} of {n}{f' (+{ties} tied)' if ties else ''} | "
              f"{move:+.1%} ({verdict}, bound {m['bound']:.0%}) |")


if __name__ == "__main__":
    sys.exit(main())
