#!/usr/bin/env python3
"""Summarize a Spark event log: per-job-description wall and per-stage
task-time breakdown, so an expensive query can be attributed to the
stages (and therefore operators) that actually cost something. Task
metrics are summed over successful task attempts only, so failed and
killed speculative attempts do not inflate a stage's task time.

Usage: stage_profile.py <event-log-file> [top_n_stages]
"""
import json
import sys
from collections import defaultdict


def main() -> None:
    path = sys.argv[1]
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    job_desc = {}          # jobId -> description
    job_wall = {}          # jobId -> (start, end)
    stage_info = {}        # stageId -> dict(name, numTasks, submit, complete)
    stage_task_time = defaultdict(float)   # stageId -> summed task run time (s)
    stage_gc = defaultdict(float)
    stage_shuffle_read = defaultdict(int)
    stage_shuffle_write = defaultdict(int)

    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = ev.get("Properties", {}).get(
                    "spark.job.description", "")
                job_wall[jid] = [ev.get("Submission Time", 0), None]
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_wall:
                    job_wall[jid][1] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                stage_info[sid] = {
                    "name": si.get("Stage Name", ""),
                    "tasks": si.get("Number of Tasks", 0),
                    "wall": (si.get("Completion Time", 0) -
                             si.get("Submission Time", 0)) / 1e3
                    if si.get("Submission Time") else 0.0,
                }
            elif e == "SparkListenerTaskEnd":
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    continue
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                stage_task_time[sid] += m.get("Executor Run Time", 0) / 1e3
                stage_gc[sid] += m.get("JVM GC Time", 0) / 1e3
                srm = m.get("Shuffle Read Metrics") or {}
                stage_shuffle_read[sid] += (srm.get("Remote Bytes Read", 0) +
                                            srm.get("Local Bytes Read", 0))
                swm = m.get("Shuffle Write Metrics") or {}
                stage_shuffle_write[sid] += swm.get("Shuffle Bytes Written", 0)

    # per-description wall
    by_desc = defaultdict(lambda: [0.0, 0])
    for jid, (st, en) in sorted(job_wall.items()):
        if en is None:
            continue
        d = job_desc.get(jid, "") or "(none)"
        by_desc[d][0] += (en - st) / 1e3
        by_desc[d][1] += 1
    print("== wall by job description ==")
    for d, (w, n) in sorted(by_desc.items(), key=lambda kv: -kv[1][0]):
        print(f"{w:9.2f}s  {n:4d} jobs  {d[:100]}")

    print(f"\n== top {top_n} stages by stage wall ==")
    rows = sorted(stage_info.items(), key=lambda kv: -kv[1]["wall"])[:top_n]
    for sid, si in rows:
        print(f"stage {sid:5d}  wall {si['wall']:7.2f}s  task-sum "
              f"{stage_task_time[sid]:8.2f}s  gc {stage_gc[sid]:6.2f}s  "
              f"tasks {si['tasks']:4d}  shr {stage_shuffle_read[sid]>>20}MB "
              f"shw {stage_shuffle_write[sid]>>20}MB  {si['name'][:80]}")


if __name__ == "__main__":
    main()
