#!/usr/bin/env python3
"""Per-trigger timeline of a Spark event log from a medallion run.

Reads an uncompressed Spark event log (one JSON event per line) and
splits it into triggers: a trigger runs from the start of one
`graftRawIngest` streaming-batch SQL execution to the start of the
next. For each trigger it prints every top-level SQL execution (and
the executions nested in it, such as the ones a foreachBatch runs)
with its wall-clock milliseconds, jobs, tasks, and the summed Executor
Deserialize and Executor Run time of its tasks, then the jobs that
belong to no SQL execution (file listings, for example).

A benchmark run writes such a log without any change to the benchmark:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=/tmp/evlog -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload medallion_stream --seed 7 \\
      --seconds 10 --trace 1
    python3 tools/trigger_timeline.py /tmp/evlog/eventlog_v2_local-*/events_1_*

Event logging slows a trigger down (1.40 s to 1.63 s in one run), so
use the log to attribute cost, not to compare timings.

Options: `--last N` prints only the last N triggers; `--summary`
prints one line per trigger instead of the full breakdown, where
`ingest_ms` is the streaming batch's execution and `in_jobs_ms` the
part of it spent in the executions it ran (the rest is driver-side:
planning, caching, the commit's bloom sidecars and log claim);
`--jobs` adds, under each execution of the full breakdown, one line
per job: the milliseconds from the job's submission to the launch of
its first task (`to_task_ms`), then each task's Executor Deserialize
and Executor Run milliseconds as `deser/run`, in launch order. A job
whose tasks take long to deserialize, next to jobs of the same shape
that do not, has something heavy in its task closure. `--gaps` prints,
per trigger, the driver time before each top-level SQL execution (or
execution-less job): the milliseconds from the end of the previous one
to its start (`gap_ms`), and the gap from the last one's end to the
next trigger. That is where table-state loads, planning and log claims
show: they run on the driver between executions.
"""

import argparse
import json
import os
import re
import sys

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
TRIGGER_ROOT = "graftRawIngest"


class Work:
    """Jobs and task time attributed to one SQL execution or one job."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.deser_ms = 0
        self.run_ms = 0

    def add(self, other):
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.deser_ms += other.deser_ms
        self.run_ms += other.run_ms


class Execution:
    def __init__(self, e):
        self.id = e["executionId"]
        self.root = e.get("rootExecutionId", self.id)
        self.start = e["time"]
        self.end = None
        self.label = label(e)
        self.work = Work()
        self.children = []
        self.jobs = []

    @property
    def ms(self):
        return (self.end - self.start) if self.end is not None else float("nan")


class Job:
    def __init__(self, e):
        self.id = e["Job ID"]
        self.start = e["Submission Time"]
        self.end = None
        props = e.get("Properties") or {}
        self.execution = props.get("spark.sql.execution.id")
        stages = e.get("Stage Infos") or []
        self.label = stages[-1]["Stage Name"] if stages else props.get("callSite.short", "?")
        desc = props.get("spark.job.description")
        if desc:
            self.label = desc.splitlines()[0] + " | " + self.label
        self.work = Work()
        self.work.jobs = 1
        self.tasks = []  # (launch ms, deserialize ms, run ms)


def label(e):
    """A short name for a SQL execution: its description's first line,
    the top operator of its physical plan, and its first graft frame
    outside the benchmark."""
    desc = (e.get("description") or "").splitlines()
    plan = (e.get("physicalPlanDescription") or "").splitlines()
    top = next((l.strip() for l in plan[1:] if l.strip()), "")
    top = re.sub(r" \(\d+\)$", "", top.lstrip("+-*() 0123456789").split(" [")[0])[:48]
    frame = next((f for f in (e.get("details") or "").splitlines()
                  if f.startswith("graft.") and not f.startswith("graft.perfbench")), "")
    frame = frame.split("(")[-1].rstrip(")") if frame else ""
    parts = [desc[0][:40] if desc else "", top, frame]
    return " | ".join(p for p in parts if p)


def read(path):
    executions = {}
    jobs = {}
    stage_owner = {}
    stage_job = {}
    order = []  # executions and execution-less jobs, in start order
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == SQL_START:
                x = Execution(e)
                executions[x.id] = x
                if x.root != x.id and x.root in executions:
                    executions[x.root].children.append(x)
                else:
                    order.append(("sql", x))
            elif kind == SQL_END:
                x = executions.get(e["executionId"])
                if x is not None:
                    x.end = e["time"]
            elif kind == "SparkListenerJobStart":
                j = Job(e)
                jobs[j.id] = j
                x = executions.get(int(j.execution)) if j.execution is not None else None
                owner = x.work if x is not None else j.work
                if x is not None:
                    x.work.jobs += 1
                    x.jobs.append(j)
                else:
                    order.append(("job", j))
                for s in e.get("Stage Infos") or []:
                    stage_owner[s["Stage ID"]] = owner
                    stage_job[s["Stage ID"]] = j
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(e["Job ID"])
                if j is not None:
                    j.end = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                owner = stage_owner.get(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                deser = m.get("Executor Deserialize Time", 0)
                run = m.get("Executor Run Time", 0)
                if owner is not None:
                    owner.tasks += 1
                    owner.deser_ms += deser
                    owner.run_ms += run
                j = stage_job.get(e["Stage ID"])
                if j is not None:
                    launch = (e.get("Task Info") or {}).get("Launch Time", 0)
                    j.tasks.append((launch, deser, run))
    return order


def triggers(order):
    """Split the start-ordered items at each trigger root."""
    out, cur = [], None
    for kind, item in order:
        if kind == "sql" and item.label.startswith(TRIGGER_ROOT):
            cur = []
            out.append(cur)
        if cur is not None:
            cur.append((kind, item))
    return out


def total(item):
    w = Work()
    w.add(item.work)
    for c in getattr(item, "children", []):
        w.add(c.work)
    return w


def end_of(item):
    return item.end if item.end is not None else item.start


def row(indent, name, ms, w, what):
    return (f"{indent}{name:<8}{ms:>8.0f}{w.jobs:>6}{w.tasks:>7}"
            f"{w.deser_ms:>9}{w.run_ms:>8}  {what}")


def job_lines(indent, job):
    """One line per job: submission to first task launch, then each
    task's deserialize/run milliseconds in launch order."""
    tasks = sorted(job.tasks)
    to_task = (tasks[0][0] - job.start) if tasks else float("nan")
    tasks = " ".join(f"{d}/{r}" for _, d, r in tasks)
    return f"{indent}job {job.id:<5}to_task_ms {to_task:>5.0f}  deser/run {tasks}  {job.label}"


def gap_lines(items, nxt):
    """The driver time before each top-level item and after the last."""
    out, total, done = [], 0, items[0][1].start
    for kind, item in items:
        gap = max(0, item.start - done)
        total += gap
        name = str(item.id) if kind == "sql" else f"job {item.id}"
        what = item.label if kind == "sql" else "(no SQL execution) " + item.label
        ms = (end_of(item) - item.start)
        out.append(f"  {gap:>7.0f}  {name:<8}{ms:>8.0f}  {what}")
        done = max(done, end_of(item))
    tail = max(0, nxt - done)
    out.append(f"  {tail:>7.0f}  {'(end)':<8}{'':>8}  to the next trigger")
    return out, total + tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog", help="an uncompressed event log file, or its directory")
    ap.add_argument("--last", type=int, default=0, help="print only the last N triggers")
    ap.add_argument("--summary", action="store_true", help="one line per trigger")
    ap.add_argument("--gaps", action="store_true",
                    help="per trigger: driver ms before each top-level execution")
    ap.add_argument("--jobs", action="store_true",
                    help="per job: submission to first task launch, and each task's "
                         "deserialize/run ms")
    a = ap.parse_args()
    path = a.eventlog
    if os.path.isdir(path):
        logs = [n for n in sorted(os.listdir(path)) if n.startswith("events_")]
        if not logs:
            sys.exit(f"no events_* file in {path}")
        path = os.path.join(path, logs[0])
    ts = triggers(read(path))
    if not ts:
        sys.exit(f"no {TRIGGER_ROOT} execution in {path}")
    t0 = ts[0][0][1].start
    shown = list(enumerate(ts))[-a.last:] if a.last else list(enumerate(ts))
    header = f"{'':2}{'exec':<8}{'ms':>8}{'jobs':>6}{'tasks':>7}{'deser_ms':>9}{'run_ms':>8}  what"
    if a.summary:
        print(f"{'trigger':>7}{'at_s':>8}{'wall_ms':>9}{'sql_ms':>8}{'execs':>6}{'jobs':>6}"
              f"{'tasks':>7}{'deser_ms':>9}{'run_ms':>8}{'ingest_ms':>10}{'in_jobs_ms':>11}")
    for n, items in shown:
        nxt = ts[n + 1][0][1].start if n + 1 < len(ts) else max(end_of(i) for _, i in items)
        start = items[0][1].start
        w = Work()
        for _, item in items:
            w.add(total(item))
        sql = [i for k, i in items if k == "sql"]
        sql_ms = sum(i.ms for i in sql if i.end is not None)
        if a.gaps:
            lines, gaps = gap_lines(items, nxt)
            print(f"trigger {n} at +{(start - t0) / 1e3:.1f} s: wall {nxt - start:.0f} ms, "
                  f"{gaps:.0f} ms of it between top-level executions")
            print(f"  {'gap_ms':>7}  {'exec':<8}{'ms':>8}  what")
            print("\n".join(lines))
            print()
            continue
        if a.summary:
            print(f"{n:>7}{(start - t0) / 1e3:>8.1f}{nxt - start:>9.0f}{sql_ms:>8.0f}{len(sql):>6}"
                  f"{w.jobs:>6}{w.tasks:>7}{w.deser_ms:>9}{w.run_ms:>8}{sql[0].ms:>10.0f}"
                  f"{sum(c.ms for c in sql[0].children):>11.0f}")
            continue
        print(f"trigger {n} at +{(start - t0) / 1e3:.1f} s: wall {nxt - start:.0f} ms "
              f"(to the next trigger), {len(sql)} SQL executions for {sql_ms:.0f} ms, "
              f"{w.jobs} jobs, {w.tasks} tasks")
        print(header)
        for kind, item in items:
            if kind == "sql":
                print(row("  ", str(item.id), item.ms, total(item), item.label))
                for j in item.jobs if a.jobs else []:
                    print(job_lines("      ", j))
                for c in item.children:
                    print(row("    ", str(c.id), c.ms, c.work, c.label))
                    for j in c.jobs if a.jobs else []:
                        print(job_lines("        ", j))
            else:
                ms = (item.end - item.start) if item.end is not None else float("nan")
                print(row("  ", f"job {item.id}", ms, item.work, "(no SQL execution) " + item.label))
                if a.jobs:
                    print(job_lines("      ", item))
        print()


if __name__ == "__main__":
    main()
