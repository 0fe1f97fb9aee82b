#!/usr/bin/env python3
"""Where a streaming micro-batch's time goes, from a Spark event log.

Usage: python3 tools/batch_timeline.py <eventLog> [--query NAME] [--batches FIRST-LAST]

<eventLog> is one uncompressed event log file (spark.eventLog.enabled=true,
spark.eventLog.compress=false). For each micro-batch of the named query
(every query when --query is left out) it prints three spans:

  pre   trigger start -> the batch's first job submitted
  jobs  first job submitted -> last job completed
  post  last job completed -> trigger end

The trigger comes from the query's progress event: `timestamp` is the
trigger's start and `durationMs.triggerExecution` its length. A job
belongs to the batch whose id its `streaming.sql.batchId` property
carries, for the query whose id its `sql.streaming.queryId` names.
Under each batch, one line per stage of its jobs: tasks, wall ms
(submission to completion), summed task run, CPU and deserialization
ms, and shuffle bytes read and written.

Diagnosis only: an event log costs the run time of its own, so a figure
read here is never the source of a claimed number.
"""
import argparse
import json
import sys
from collections import defaultdict
from datetime import datetime, timezone

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def epoch_ms(iso):
    """Progress timestamps are ISO-8601 UTC strings, e.g. 2026-10-20T00:48:20.123Z."""
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def load(path):
    progress = {}                 # (query id, batch id) -> progress
    jobs = {}                     # job id -> {batch, query, submit, end, stages}
    stages = {}                   # stage id -> {tasks, submit, end}
    tasks = defaultdict(lambda: defaultdict(float))  # stage id -> summed task metrics
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == PROGRESS:
                p = e["progress"]
                progress[(p["id"], p["batchId"])] = p
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if "streaming.sql.batchId" in props:
                    jobs[e["Job ID"]] = {
                        "batch": int(props["streaming.sql.batchId"]),
                        "query": props.get("sql.streaming.queryId"),
                        "submit": e["Submission Time"], "end": None,
                        "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                s = e["Stage Info"]
                stages[s["Stage ID"]] = {"tasks": s["Number of Tasks"],
                                         "submit": s.get("Submission Time"),
                                         "end": s.get("Completion Time")}
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                t = tasks[e["Stage ID"]]
                t["run"] += m.get("Executor Run Time", 0)
                t["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                t["deser"] += m.get("Executor Deserialize Time", 0)
                r = m.get("Shuffle Read Metrics") or {}
                t["read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                t["write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return progress, jobs, stages, tasks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("--query", help="query name (the progress event's `name`)")
    ap.add_argument("--batches", help="FIRST-LAST batch ids, inclusive")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.batches.split("-")) if a.batches else (0, 1 << 62)
    progress, jobs, stages, tasks = load(a.eventlog)
    by_batch = defaultdict(list)
    for jid, j in jobs.items():
        by_batch[(j["query"], j["batch"])].append(jid)
    shown = 0
    for (qid, bid), p in sorted(progress.items(), key=lambda kv: (kv[1]["timestamp"], kv[0][1])):
        if (a.query and p.get("name") != a.query) or not lo <= bid <= hi:
            continue
        start = epoch_ms(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0)
        ids = sorted(by_batch.get((qid, bid), []))
        done = [jobs[j]["end"] for j in ids if jobs[j]["end"] is not None]
        if not ids or not done:
            print(f"{p.get('name')} batch {bid}: trigger {end - start:.0f} ms, no jobs")
            continue
        first, last = min(jobs[j]["submit"] for j in ids), max(done)
        print(f"{p.get('name')} batch {bid}: trigger {end - start:.0f} ms = "
              f"pre {first - start:.0f} + jobs {last - first:.0f} ({len(ids)}) + post {end - last:.0f}")
        for j in ids:
            for sid in sorted(jobs[j]["stages"]):
                s = stages.get(sid)
                if s is None or s["submit"] is None:
                    continue  # skipped: its output came from an earlier stage
                t = tasks[sid]
                print(f"  job {j} stage {sid}: {s['tasks']} tasks, wall {s['end'] - s['submit']} ms, "
                      f"run {t['run']:.0f} cpu {t['cpu']:.0f} deser {t['deser']:.0f} ms, "
                      f"shuffle read {t['read']:.0f} B write {t['write']:.0f} B")
        shown += 1
    if not shown:
        sys.exit("batch_timeline: no progress events matched")


if __name__ == "__main__":
    main()
