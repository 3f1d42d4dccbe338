#!/usr/bin/env python3
"""Group a JFR recording's CPU samples by thread and by time window.

    jfr print --json --events jdk.ExecutionSample rec.jfr > samples.json
    python3 tools/jfr_samples.py samples.json [--window 5] [--top 8] [--match parseJson]

For each (thread group, window) it prints the sample count and the top
methods on the stack top. `--match` also counts the samples whose stack
holds a frame whose `Class.method` contains the pattern, with the first
Spark operator or generated whole-stage stage (`...Exec`, `...CodegenStageN`)
below that frame ("stack cut" when the recorded stack ends first: record
with `-XX:FlightRecorderOptions=stackdepth=256`). Thread names are grouped
with their trailing digits dropped ("Executor task launch worker-3" →
"Executor task launch worker-").
"""
import argparse
import collections
import datetime
import json
import re


def frame_name(f):
    m = f["method"]
    return f'{re.split(r"[./]", m["type"]["name"])[-1]}.{m["name"]}'


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("samples")
    ap.add_argument("--window", type=float, default=5.0, help="seconds per window")
    ap.add_argument("--top", type=int, default=8)
    ap.add_argument("--match", default=None)
    a = ap.parse_args()

    with open(a.samples) as fh:
        events = json.load(fh)["recording"]["events"]
    rows = []
    for e in events:
        v = e["values"]
        t = datetime.datetime.fromisoformat(v["startTime"].replace("Z", "+00:00")).timestamp()
        thread = (v.get("sampledThread") or {}).get("javaName") or "?"
        frames = [frame_name(f) for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        rows.append((t, re.sub(r"\s*[\d.()]+.*$", "", thread) or thread, frames))
    if not rows:
        print("no samples")
        return
    t0 = min(r[0] for r in rows)
    groups = collections.defaultdict(list)
    for t, thread, frames in rows:
        groups[(thread, int((t - t0) // a.window))].append(frames)
    for (thread, w), stacks in sorted(groups.items(), key=lambda kv: (kv[0][1], -len(kv[1]))):
        tops = collections.Counter(s[0] for s in stacks if s)
        line = f"[{w * a.window:6.1f}s +{a.window:g}] {thread}: {len(stacks)} samples"
        if a.match:
            hits = [s for s in stacks if any(a.match in f for f in s)]
            under = collections.Counter(
                next((f for f in s[next(i for i, f in enumerate(s) if a.match in f):]
                      if "Exec" in f or "CodegenStage" in f), "stack cut")
                for s in hits)
            line += f", {len(hits)} with {a.match} (under {dict(under.most_common(3))})"
        print(line)
        for name, n in tops.most_common(a.top):
            print(f"    {n:5d}  {name}")


if __name__ == "__main__":
    main()
