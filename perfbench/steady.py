"""Steadiness check for the serving benchmark.

    python3 perfbench/steady.py [--runs 10]

Runs every workload of BENCHMARK.json `--runs` times in each of two sets
on the current checkout, each run with its own seed (set 0 uses seeds
1000.., set 1 seeds 1100..). Sets alternate the workload order. For each
end-to-end metric it prints, per workload and set, the median and the
spread (distance between the first and third quartile as a share of the
median) against the metric's bound, and the shift of the second set's
median against the first. A spread within a third of the bound is the
target; a spread above the bound or a shift worse than the bound fails
the check.
"""

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2
BASE_SEED = 1000


def cpu_times():
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run(workload, seed, seconds):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    c0 = cpu_times()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    c1 = cpu_times()
    # share of the run's CPU time the hypervisor gave to other guests
    steal = ((c1[7] - c0[7]) / max(1, sum(c1) - sum(c0))) if c0 and c1 else 0.0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        return None
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["steal"] = steal
    n = re.search(r"all requests n=(\d+)", p.stdout)
    res["requests"] = int(n.group(1)) if n else 0
    print(f"  {workload} seed {seed}: {wall:.0f}s steal={steal:.2f} correct={res['correct']} n={res['requests']} " +
          " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
          flush=True)
    return res


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wls = [w["name"] for w in bench["workloads"]]
    results = {(s, w): [] for s in range(SETS) for w in wls}
    t0 = time.monotonic()
    for i in range(args.runs):
        for s in range(SETS):
            order = wls if (i + s) % 2 == 0 else wls[::-1]
            for w in order:
                r = run(w, BASE_SEED + 100 * s + i, bench["run_seconds"])
                if r:
                    results[(s, w)].append(r)
    print(f"\n{time.monotonic() - t0:.0f}s for "
          f"{sum(len(v) for v in results.values())} runs")
    ok = True
    for w in wls:
        walls = [r["wall_s"] for s in range(SETS) for r in results[(s, w)]]
        if not walls:
            print(f"\n{w}: no successful run")
            ok = False
            continue
        wrong = sum(not r["correct"] for s in range(SETS) for r in results[(s, w)])
        reqs = [r["requests"] for s in range(SETS) for r in results[(s, w)]]
        steals = [r["steal"] for s in range(SETS) for r in results[(s, w)]]
        print(f"\n{w}: mean run {statistics.mean(walls):.0f}s, {wrong} incorrect runs, "
              f"{min(reqs)}-{max(reqs)} requests per run, "
              f"steal {min(steals):.2f}-{max(steals):.2f}")
        ok &= wrong == 0
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            row = f"  {name:10s} bound {bound:.2f}"
            for s in range(SETS):
                xs = [r["metrics"][name]["value"] for r in results[(s, w)]]
                if len(xs) < 2:
                    row += f" | set {s}: too few runs"
                    ok = False
                    continue
                sp = spread(xs)
                meds.append(statistics.median(xs))
                flag = "ok" if sp <= bound / 3 else ("WIDE" if sp <= bound else "OVER")
                ok &= sp <= bound
                row += f" | set {s}: median {meds[-1]:.4g} spread {sp:.3f} {flag}"
            if len(meds) == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                row += f" | shift {worse:+.3f} {'ok' if worse <= bound else 'OVER'}"
                ok &= worse <= bound
            print(row)
    print("\nsteady" if ok else "\nNOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
