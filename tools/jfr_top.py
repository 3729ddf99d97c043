#!/usr/bin/env python3
"""Top methods per thread class from a JFR execution-sample recording.

Record a run with the JVM's flight recorder (no code change needed):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 14 --trace 0

then summarise it:

    python3 tools/jfr_top.py run.jfr
    python3 tools/jfr_top.py run.jfr --top 30
    python3 tools/jfr_top.py run.jfr --match 'Configuration.loadResource$'
    python3 tools/jfr_top.py samples.json      # output of `jfr print --json ...`

A `.jfr` argument is converted with
`jfr print --json --stack-depth 64 --events jdk.ExecutionSample`.
Threads are grouped into classes by replacing digit runs in their names
with `#` ("Executor task launch worker for task #.# in stage #.# (TID #)",
"ForkJoinPool-#-worker-#", "main"). For each class the script prints its
sample count and the top methods by INCLUSIVE samples (the method is
anywhere on the sampled stack, counted once per sample) and by SELF
samples (the method is the top frame). Stacks deeper than the recorded
depth are truncated, so inclusive counts of frames near the thread's root
are lower bounds. `--match REGEX` prints, per thread class, how many
samples have a matching frame anywhere on the stack (one method's
inclusive share, e.g. Hadoop's default-XML parse). Standard library only.
"""

import argparse
import collections
import json
import re
import subprocess


def load_events(path):
    if path.endswith(".jfr"):
        out = subprocess.run(
            ["jfr", "print", "--json", "--stack-depth", "64",
             "--events", "jdk.ExecutionSample", path],
            check=True, capture_output=True, text=True).stdout
        doc = json.loads(out)
    else:
        with open(path) as f:
            doc = json.load(f)
    return doc["recording"]["events"]


def thread_class(thread):
    name = (thread or {}).get("javaName") or (thread or {}).get("osName") or "?"
    return re.sub(r"\d+", "#", name)


def frame_name(frame):
    m = frame.get("method") or {}
    owner = (m.get("type") or {}).get("name", "?")
    return f"{owner}.{m.get('name', '?')}"


def summarise(events, match=None):
    """thread class -> (samples, inclusive Counter, self Counter, matched)."""
    samples = collections.Counter()
    incl = collections.defaultdict(collections.Counter)
    self_ = collections.defaultdict(collections.Counter)
    matched = collections.Counter()
    for ev in events:
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        v = ev.get("values", {})
        cls = thread_class(v.get("sampledThread"))
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        samples[cls] += 1
        if match and any(re.search(match, name) for name in frames):
            matched[cls] += 1
        if frames:
            self_[cls][frames[0]] += 1
            for name in set(frames):
                incl[cls][name] += 1
    return samples, incl, self_, matched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help=".jfr file or JSON from `jfr print --json`")
    ap.add_argument("--top", type=int, default=20, help="methods listed per thread class")
    ap.add_argument("--match", help="count samples with a frame matching this regex")
    args = ap.parse_args()

    samples, incl, self_, matched = summarise(
        load_events(args.recording), args.match)
    total = sum(samples.values())
    print(f"{total} execution samples in {len(samples)} thread classes")
    if args.match:
        hit = sum(matched.values())
        print(f"{hit} samples ({100.0 * hit / max(total, 1):.1f}%) have a frame "
              f"matching {args.match!r}")
        for cls, n in matched.most_common():
            print(f"  {n:7d} of {samples[cls]:7d} ({100.0 * n / samples[cls]:5.1f}%)  {cls}")
        return
    for cls, n in samples.most_common():
        print(f"\n== {cls}: {n} samples ({100.0 * n / max(total, 1):.1f}%)")
        for title, counter in (("inclusive", incl[cls]), ("self", self_[cls])):
            print(f"  -- {title}")
            for name, c in counter.most_common(args.top):
                print(f"  {c:7d} {100.0 * c / n:5.1f}%  {name}")


if __name__ == "__main__":
    main()
