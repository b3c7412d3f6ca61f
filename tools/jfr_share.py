#!/usr/bin/env python3
"""CPU-sample shares from a JFR recording, by thread group and by frame.

    python3 tools/jfr_share.py RECORDING.jfr [--threads REGEX ...]
        [--frames PATTERN ...]

Runs `jfr print --stack-depth 80 --events jdk.ExecutionSample` on the
recording and prints:

- the sample count of each thread-name group, where a group is a thread
  name with its digit runs folded to `N` (`grpc-default-executor-N`);
- for each `--frames` PATTERN, the inclusive share of the selected samples
  whose stack holds a matching frame. The selected samples are those of
  the groups that match any `--threads` REGEX (`re.search`), or all
  samples when none is given.

A PATTERN is a regular expression searched in each frame's text
(`package.Class.method(args) line: N`). `A < B` asks for a frame matching
A that is called, at any depth, from a frame matching B, so
`'json4s < service\\.SumFederation'` counts json4s work under the master's
federation code. Stacks deeper than 80 frames are cut at their 80 innermost
frames, so a caller deeper than that is not seen.

Example, the engine threads of a perfbench run (its client threads are
`perfbench-client-N`), recorded by starting the run with
`JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=settings=profile,filename=run.jfr`:

    python3 tools/jfr_share.py run.jfr --threads '^(?!perfbench-client)' \\
        --frames 'json4s < service\\.SumFederation' 'Merge\\$\\.toWire'
"""

import argparse
import re
import subprocess
import sys
from collections import Counter


def samples(recording):
    """(thread name, [frame text, innermost first]) per execution sample."""
    out = subprocess.run(
        ["jfr", "print", "--stack-depth", "80", "--events",
         "jdk.ExecutionSample", recording],
        check=True, capture_output=True, text=True).stdout
    thread, frames, in_stack = None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(', s)
            thread = m.group(1) if m else s[len("sampledThread = "):]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and s and s != "...":
            frames.append(s)
        elif s == "}" and thread is not None:
            yield thread, frames
            thread = None


def group(thread):
    return re.sub(r"\d+", "N", thread)


def matches(chain, frames):
    """True when the frames hold chain[0], called from chain[1], and so on
    outwards (frames are innermost first)."""
    at = 0
    for pattern in chain:
        while at < len(frames) and not pattern.search(frames[at]):
            at += 1
        if at == len(frames):
            return False
        at += 1
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--threads", nargs="*", default=[],
                    help="thread-group regexes that select samples")
    ap.add_argument("--frames", nargs="*", default=[],
                    help="frame patterns; 'A < B' is A called from B")
    args = ap.parse_args()

    all_samples = [(group(t), f) for t, f in samples(args.recording)]
    if not all_samples:
        sys.exit(f"no jdk.ExecutionSample events in {args.recording}")
    by_group = Counter(g for g, _ in all_samples)
    total = len(all_samples)
    print(f"{total} samples by thread group:")
    for g, n in by_group.most_common():
        print(f"  {n:7d}  {100.0 * n / total:5.1f}%  {g}")

    if not args.frames:
        return
    wanted = [re.compile(r) for r in args.threads]
    chosen = [f for g, f in all_samples
              if not wanted or any(r.search(g) for r in wanted)]
    scope = " or ".join(args.threads) if args.threads else "all threads"
    print(f"\n{len(chosen)} samples in {scope}; inclusive share by frame:")
    for spec in args.frames:
        chain = [re.compile(p.strip()) for p in spec.split("<")]
        n = sum(1 for f in chosen if matches(chain, f))
        share = 100.0 * n / len(chosen) if chosen else 0.0
        print(f"  {n:7d}  {share:5.1f}%  {spec}")


if __name__ == "__main__":
    main()
