#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, scored by the claim rule.

    python3 tools/pairs.py --parent <rev> --workload <w>[,<w>...] --seeds a-b
        [--seconds S] [--trace 0|1] [--workdir DIR]

Exports `<rev>` with `git archive` into a scratch directory, then for each
workload and seed runs `perfbench/run.py` once on the parent tree and
once on the current checkout (the change), alternating which side goes
first. Each side builds and runs from its own tree, one benchmark run at
a time. The CPU time the hypervisor stole during each run is read from
/proc/stat deltas.

For each workload and each end-to-end metric of BENCHMARK.json it prints
the change's wins out of N pairs, both medians, the gap between them
(positive when the change is better) and the parent's quartile spread
(third minus first quartile) under both inclusive and exclusive
quartiles. A gain is claimed when the change wins at least nine of ten
pairs and the gap is larger than the parent's spread. The flags column
says `worse` when the change's median is worse than the parent's, and
adds `PAST BOUND` when it is worse by more than the metric's `bound` in
BENCHMARK.json (a fraction of the parent's median), so one call checks a
whole change against every listed workload. A Markdown table of every
pair follows. The header also gives the lines the checkout adds to and
deletes from `src/main` against the parent, and the net change (`git diff
--numstat`; a new file counts once it is in the index). Do not edit the checkout while it runs: the change side
rebuilds from it.
"""

import argparse
import json
import math
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def cpu_times():
    """The machine's CPU time counters (user .. steal) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def export(rev, dest):
    """`git archive` of `rev` into `dest`, reused if already there."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    mark = dest / ".pairs_rev"
    if mark.exists() and mark.read_text() == sha:
        return sha
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")
    mark.write_text(sha)
    return sha


def src_main_lines(sha):
    """Lines added to and deleted from `src/main` in the checkout against
    `sha`."""
    out = subprocess.run(["git", "diff", "--numstat", sha, "--", "src/main"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout
    added = deleted = 0
    for line in out.splitlines():
        a, d, _ = line.split("\t", 2)
        if a != "-":  # a binary file has no line counts
            added, deleted = added + int(a), deleted + int(d)
    return added, deleted


def run(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    c0, t0 = cpu_times(), time.monotonic()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    c1, wall = cpu_times(), time.monotonic() - t0
    steal = ((c1[7] - c0[7]) / max(1, sum(c1) - sum(c0))) if c0 and c1 else 0.0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {tree.name} seed {seed}: exit {p.returncode}\n"
              f"{p.stderr[-2000:]}", flush=True)
        return None
    res = json.loads(lines[-1])
    res["steal"], res["wall_s"] = steal, wall
    print(f"  {'parent' if tree != ROOT else 'change'} seed {seed}: "
          f"{wall:.0f}s steal {100 * steal:.2f}% correct {res['correct']} "
          f"failed {res['failed']} " +
          " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          flush=True)
    return res


def spread(xs, method):
    if len(xs) < 2:
        return float("nan")
    q = statistics.quantiles(xs, n=4, method=method)
    return q[2] - q[0]


def score(metrics, pairs):
    """Per metric: wins, medians, gap and the parent's spreads."""
    rows = []
    n = len(pairs)
    need = math.ceil(0.9 * n)
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        par = [p["metrics"][name]["value"] for p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, c in pairs]
        wins = sum((c > p) if higher else (c < p) for p, c in zip(par, chg))
        mp, mc = statistics.median(par), statistics.median(chg)
        gap = (mc - mp) if higher else (mp - mc)
        inc, exc = spread(par, "inclusive"), spread(par, "exclusive")
        claim = lambda s: "yes" if wins >= need and gap > s else "no"
        rel = f" ({100 * gap / abs(mp):+.1f}%)" if mp else ""
        rows.append(f"| {name} | {wins}/{n} | {mp:.4g} | {mc:.4g} | "
                    f"{gap:+.4g}{rel} | {inc:.4g} | "
                    f"{exc:.4g} | {claim(inc)} / {claim(exc)} | "
                    f"{flags(gap, mp, m.get('bound'))} |")
    return rows


def flags(gap, parent_median, bound):
    """`worse` for a change median worse than the parent's, plus `PAST
    BOUND` when it is worse by more than `bound` times the parent's."""
    if gap >= 0:
        return ""
    if bound is not None and -gap > bound * abs(parent_median):
        return f"worse, PAST BOUND {bound:g}"
    return "worse"


def pairs_for(workload, parent, args):
    """Alternating parent/change runs of one workload: the complete pairs,
    their steal and the seeds that lost a side."""
    pairs, steals, lost = [], [], []
    for i, seed in enumerate(seeds(args.seeds)):
        sides = [parent, ROOT] if i % 2 == 0 else [ROOT, parent]
        out = {t: run(t, workload, seed, args.seconds, args.trace)
               for t in sides}
        p, c = out[parent], out[ROOT]
        if p is None or c is None:
            lost.append(seed)
            continue
        pairs.append((p, c))
        steals.append((seed, p["steal"], c["steal"]))
    return pairs, steals, lost


def report(workload, metrics, pairs, steals, lost, args):
    if not pairs:
        print(f"\n{workload}: no complete pair")
        return
    bad = sum(not r["correct"] or r["failed"] for pc in pairs for r in pc)
    print(f"\n{workload}, {len(pairs)} pairs, --seconds {args.seconds} "
          f"--trace {args.trace}; lost pairs {lost or 'none'}; runs with a "
          f"failed check: {bad}; steal "
          f"{100 * min(min(s[1:]) for s in steals):.2f}-"
          f"{100 * max(max(s[1:]) for s in steals):.2f}%\n")
    print("| metric | change wins | parent median | change median | gap | "
          "parent spread (incl.) | parent spread (excl.) | "
          "claim incl. / excl. | flags |")
    print("|---|---|---|---|---|---|---|---|---|")
    print("\n".join(score(metrics, pairs)))
    names = [m["name"] for m in metrics]
    print("\n| seed | steal % parent / change | " + " | ".join(names) + " |")
    print("|---|---|" + "---|" * len(names))
    for (seed, sp, sc), (p, c) in zip(steals, pairs):
        print(f"| {seed} | {100 * sp:.2f} / {100 * sc:.2f} | " + " | ".join(
            f"{p['metrics'][k]['value']:.4g} → {c['metrics'][k]['value']:.4g}"
            for k in names) + " |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent")
    ap.add_argument("--workload", required=True,
                    help="a workload, or several separated by commas")
    ap.add_argument("--seeds", required=True, help="a-b, inclusive")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", help="where the parent is exported (kept, "
                    "so later calls reuse its build); default a temp dir")
    args = ap.parse_args()
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    workloads = [w for w in args.workload.split(",") if w]

    work = Path(args.workdir) if args.workdir else Path(
        tempfile.mkdtemp(prefix="graft-pairs-"))
    parent = work / "parent"
    try:
        sha = export(args.parent, parent)
        added, deleted = src_main_lines(sha)
        print(f"parent {sha[:12]} in {parent}; change is {ROOT}\n"
              f"src/main against the parent: +{added} -{deleted} lines, "
              f"net {added - deleted:+d}", flush=True)
        results = [(w, pairs_for(w, parent, args)) for w in workloads]
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)
    for w, (pairs, steals, lost) in results:
        report(w, metrics, pairs, steals, lost, args)
    return 0 if all(r[0] for _, r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
