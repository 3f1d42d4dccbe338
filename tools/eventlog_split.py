#!/usr/bin/env python3
"""Split each file write in an uncompressed Spark event log into its phases.

    python3 tools/eventlog_split.py <event log file> [--plans]

For every SQL execution that writes (an InsertIntoHadoopFsRelationCommand for
a file write, or the OverwriteByExpression that a `noop` overwrite such as
graft.Bench's plans as) it prints: the enclosing execution's length and the time from its start to the
write's start (for a streaming micro-batch the enclosing execution is the
`addBatch` of foreachBatch; a batch write has none), the time from the
write's start to its first job, each job (length, tasks, summed task run and
CPU time, each task's deserialization time), the gap between jobs (AQE
re-planning) and the time from the last job's end to the write's end (the job
commit). Then one line per streaming progress event: batch id, input rows,
addBatch and trigger time. Then every job in start order: length, stages and
tasks that ran (skipped stages are not counted), the gap since the previous
job's end, and the SQL execution it ran under. With --plans each write is
followed by its formatted physical plan.
"""
import collections
import json
import sys

WRITE_NODES = ("InsertIntoHadoopFsRelationCommand", "OverwriteByExpression")
execs = {}                               # id -> start, end, root, write
jobs = {}                                # id -> start, end, exec, stages
tasks = collections.defaultdict(list)    # stage -> [(deser ms, run ms, cpu ms)]
progress = []

with open(sys.argv[1]) as fh:
    for line in fh:
        e = json.loads(line)
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            execs[e["executionId"]] = dict(
                start=e["time"], root=e.get("rootExecutionId", e["executionId"]),
                write=any(n in plan for n in WRITE_NODES), plan=plan)
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            execs[e["executionId"]]["end"] = e["time"]
        elif ev == "SparkListenerJobStart":
            xid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = dict(start=e["Submission Time"], exec=int(xid) if xid else None,
                                     stages=e["Stage IDs"])
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            tasks[e["Stage ID"]].append((m.get("Executor Deserialize Time", 0),
                                         m.get("Executor Run Time", 0),
                                         m.get("Executor CPU Time", 0) / 1e6))
        elif ev.endswith("QueryProgressEvent"):
            progress.append(e["progress"])


def job_text(j):
    ts = [t for s in j["stages"] for t in tasks.get(s, [])]
    return (f"job {j['end'] - j['start']} ms: {len(ts)} tasks, run {sum(t[1] for t in ts)} ms, "
            f"cpu {sum(t[2] for t in ts):.0f} ms, deser {[t[0] for t in ts]}")


for xid in sorted(execs):
    x = execs[xid]
    js = sorted((j for j in jobs.values() if j["exec"] == xid and "end" in j),
                key=lambda j: j["start"])
    if not x["write"] or not js or "end" not in x:
        continue
    outer = execs.get(x["root"]) if x["root"] != xid else None
    parts = [f"outer {outer['end'] - outer['start']} ms, pre-write {x['start'] - outer['start']}"
             if outer and "end" in outer else "outer -",
             f"pre-job {js[0]['start'] - x['start']}"]
    for prev, j in zip([None] + js[:-1], js):
        if prev is not None:
            parts.append(f"gap {j['start'] - prev['end']}")
        parts.append(job_text(j))
    parts.append(f"commit {x['end'] - js[-1]['end']}")
    print(f"write {xid}: " + " | ".join(parts))
    if "--plans" in sys.argv[2:]:
        print(x["plan"])

for p in progress:
    d = p["durationMs"]
    rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
    print(f"batch {p['batchId']}: {rows} input rows, addBatch {d.get('addBatch')} ms, "
          f"trigger {d.get('triggerExecution')} ms")

prev_end = None
for jid, j in sorted(jobs.items(), key=lambda kv: (kv[1]["start"], kv[0])):
    ran = [st for st in j["stages"] if st in tasks]
    length = f"{j['end'] - j['start']} ms" if "end" in j else "unfinished"
    gap = f"{j['start'] - prev_end} ms" if prev_end is not None else "-"
    print(f"job {jid}: {length}, {len(ran)} stages, {sum(len(tasks[st]) for st in ran)} tasks, "
          f"gap {gap}, exec {j['exec'] if j['exec'] is not None else '-'}")
    prev_end = j.get("end", prev_end)
