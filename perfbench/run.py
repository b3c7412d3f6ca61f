"""Serving benchmark for the sum RPC surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (see build.py), then runs
one JVM that starts Spark, loads a seeded store, serves it over gRPC and
drives it with closed-loop clients. The harness checks every response;
the last line of stdout is the JSON result. Run from the repository root.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ["kv_read", "write_mix", "oracle_run", "fed_run"]
# The JVM must end within 180 s of a run; a run that first compiles may
# take longer (the compile happens once per checkout).
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def contract_result(line: str, trace: int) -> dict:
    """The JVM's result cut to the metrics BENCHMARK.json lists for this
    mode; the rest are printed on a line of their own."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"bad result keys {sorted(res)}")
    if res["attempted"] < 1:
        raise ValueError("no request attempted")
    want = [m["name"] for m in json.loads(
        (build.ROOT / "BENCHMARK.json").read_text())
        ["per_layer" if trace else "end_to_end"]]
    missing = set(want) - set(res["metrics"])
    if missing:
        raise ValueError(f"metrics missing from result: {sorted(missing)}")
    extra = {k: v for k, v in res["metrics"].items() if k not in want}
    if extra:
        print("[perfbench] unlisted metrics: " + json.dumps(extra))
    res["metrics"] = {k: res["metrics"][k] for k in want}
    return res


def main() -> int:
    args = parse()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = build.ROOT / ".bench_build" / "perfbench"
    tmp = work / "tmp" / str(os.getpid())
    tmp.mkdir(parents=True, exist_ok=True)
    log = work / "logs" / f"{args.workload}-{args.seed}-{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=256m",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}",
           "graft.perfbench.Bench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", str(work / "traces")]
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, cwd=tmp, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] timed out after {TIMEOUT_S}s; log: {log}",
                  file=sys.stderr)
            return 3
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] JVM exited {proc.returncode}; log: {log}",
              file=sys.stderr)
        print("".join(open(log).readlines()[-30:]), file=sys.stderr)
        return 4
    try:
        res = contract_result(lines[-1], args.trace)
    except (ValueError, KeyError) as e:
        print(f"[perfbench] bad result: {e}", file=sys.stderr)
        return 5
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
