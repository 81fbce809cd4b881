#!/usr/bin/env python3
"""Summarize an uncompressed Spark event log per job and stage.

Per stage, summed over its task attempts: tasks, executor deserialize
wall and CPU time, executor run time, executor CPU time, the off-CPU
share of run time ((run - CPU) / run: tasks waiting on locks, I/O or
each other) and shuffle bytes written. Each job lists the stages that
ran tasks for it, then its total and its wall time (submission to
completion); the last line is the log's total. A job that carries the
benchmark probe's `graftbench.span` local property shows that span id,
and with --spans the span file written beside a benchmark result
(`<run>.spans.jsonl`) turns it into the span's name and pass.

The run's task slots are the cores of its executors (the log's
executor-added events; `local[N]` gives N). A stage line shows its
wall time (submission to completion), and one whose tasks were
CPU-bound (CPU / run >= 0.8) but fewer than the slots is flagged when
they ran at least 0.1 s: its work could have run on more cores. Every
view ends with the list of flagged stages.

    python3 tools/stage_profile.py EVENTLOG [--spans RUN.spans.jsonl]
    python3 tools/stage_profile.py EVENTLOG --by span [--spans ...]
    python3 tools/stage_profile.py EVENTLOG --json

--by span folds the stages into one line per span name (every pass
together), --by pass into one line per benchmark pass (both need
--spans); --json prints the per-job breakdown as one JSON object. In
both folds, wall_s is the spans' wall time and idle_s the part of it
with no job of the span (or of a span inside it) running: driver-side
planning, code generation, collects and waits.

To capture a log, start any JVM that builds a SparkContext with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file://<existing dir> -Dspark.eventLog.compress=false"

Spark reads `spark.*` JVM system properties into its conf, so this
works for `graftbench/run.py`, `sbt runMain` and the test JVM alike.
EVENTLOG is the log file, or the `eventlog_v2_<app id>` directory a
rolling log (the Spark 4 default) writes its `events_<n>_*` files to.
"""
import argparse
import json
import os
import re
import sys

FIELDS = ("tasks", "deser_s", "deser_cpu_s", "run_s", "cpu_s", "shuffle_write")
TIMES = ("wall_s", "idle_s")
SPAN_KEY = "graftbench.span"
CPU_BOUND = 0.8
MIN_RUN_S = 0.1


def empty():
    return dict.fromkeys(FIELDS, 0)


def add(into, frm):
    for f in FIELDS:
        into[f] += frm[f]


def log_lines(path):
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if re.match(r"events_\d+_", n)]
        files = [os.path.join(path, n)
                 for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name, encoding="utf-8") as f:
            yield from f


def read_log(path):
    """Jobs (id -> span id, stage ids, submission and completion in epoch
    ms), per-stage sums and the peak number of task slots (executor
    cores) from one log."""
    jobs, stages, cores = {}, {}, {}
    slots = 0
    for line in log_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerExecutorAdded":
            cores[ev["Executor ID"]] = ev["Executor Info"].get("Total Cores", 0)
            slots = max(slots, sum(cores.values()))
        elif kind == "SparkListenerExecutorRemoved":
            cores.pop(ev["Executor ID"], None)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s = stages.setdefault(info["Stage ID"], {"name": info.get("Stage Name", ""),
                                                     **empty()})
            if info.get("Submission Time") and info.get("Completion Time"):
                s["wall_s"] = (info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"span": props.get(SPAN_KEY), "stages": ev["Stage IDs"],
                                  "start_ms": ev.get("Submission Time"), "end_ms": None}
            for info in ev.get("Stage Infos", []):
                stages.setdefault(info["Stage ID"], {"name": info.get("Stage Name", ""),
                                                     **empty()})
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            s = stages.setdefault(ev["Stage ID"], {"name": "", **empty()})
            s["tasks"] += 1
            s["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            s["deser_cpu_s"] += m.get("Executor Deserialize CPU Time", 0) / 1e9
            s["run_s"] += m.get("Executor Run Time", 0) / 1e3
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return jobs, stages, slots


def under_slots(s, slots):
    """A CPU-bound stage that ran on fewer tasks than the run's slots."""
    return (0 < s["tasks"] < slots and s["run_s"] >= MIN_RUN_S
            and s["cpu_s"] / s["run_s"] >= CPU_BOUND)


def read_spans(path):
    spans = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                s = json.loads(line)
                spans[str(s["id"])] = s
    return spans


def by_job(jobs, stages):
    """Each stage that ran tasks goes to the first job listing it: a later
    job that lists a stage reuses its shuffle output and runs nothing."""
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    out = {jid: {"span": j["span"], "stages": {}, "total": empty(),
                 "wall_s": job_wall(j)} for jid, j in jobs.items()}
    for sid, s in sorted(stages.items()):
        if s["tasks"] == 0 or sid not in owner:
            continue
        job = out[owner[sid]]
        job["stages"][sid] = s
        add(job["total"], s)
    return {jid: j for jid, j in sorted(out.items()) if j["stages"]}


def job_wall(job):
    if job["start_ms"] is None or job["end_ms"] is None:
        return None
    return (job["end_ms"] - job["start_ms"]) / 1e3


def union_s(intervals):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total / 1e3


def span_times(jobs, spans):
    """Per span id: wall seconds, and seconds with none of the jobs of the
    span or of the spans inside it running."""
    kids = {}
    for sid, s in spans.items():
        kids.setdefault(str(s["parent"]), []).append(sid)
    own = {}
    for j in jobs.values():
        if j["span"] is not None and j["start_ms"] is not None and j["end_ms"] is not None:
            own.setdefault(str(j["span"]), []).append((j["start_ms"], j["end_ms"]))

    def intervals(sid):
        out = list(own.get(sid, []))
        for k in kids.get(sid, []):
            out += intervals(k)
        return out
    times = {}
    for sid, s in spans.items():
        wall = (s["end_ns"] - s["start_ns"]) / 1e9
        times[sid] = {"wall_s": wall, "idle_s": max(0.0, wall - union_s(intervals(sid)))}
    return times


def span_label(span_id, spans):
    if span_id is None:
        return "-"
    s = spans.get(str(span_id))
    return f"{s['name']}#p{s['pass']}" if s else f"span {span_id}"


def row(label, t, times=None):
    off = f"{(t['run_s'] - t['cpu_s']) / t['run_s']:>7.0%}" if t["run_s"] > 0 else f"{'-':>7}"
    tail = "".join(f" {x:>8.2f}" if x is not None else f" {'-':>8}" for x in (times or ()))
    return (f"{label:<44.44} {t['tasks']:>6} {t['deser_s']:>8.2f} {t['deser_cpu_s']:>8.2f} "
            f"{t['run_s']:>8.2f} {t['cpu_s']:>8.2f} {off} {t['shuffle_write']:>12}{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--spans", help="the run's <run>.spans.jsonl, to name span ids")
    ap.add_argument("--by", choices=("stage", "span", "pass"), default="stage")
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    jobs, stages, slots = read_log(a.eventlog)
    spans = read_spans(a.spans) if a.spans else {}
    per_job = by_job(jobs, stages)
    total = empty()
    flagged = []
    for jid, j in per_job.items():
        add(total, j["total"])
        for sid, s in j["stages"].items():
            s["under_slots"] = under_slots(s, slots)
            if s["under_slots"]:
                flagged.append((jid, sid, s))
    if a.json:
        print(json.dumps({"slots": slots, "jobs": per_job, "total": total}, indent=1))
        return
    print(f"task slots: {slots}")
    header = (f"{'':<44} {'tasks':>6} {'deser_s':>8} {'deser_cpu':>8} {'run_s':>8} "
              f"{'cpu_s':>8} {'off_cpu':>7} {'shuffle_w':>12}")
    if a.by in ("span", "pass"):
        print(header + f" {'wall_s':>8} {'idle_s':>8}")
        times = span_times(jobs, spans)

        def key_of(s):
            return s["name"] if a.by == "span" else s["pass"]
        groups, walls = {}, {}
        for j in per_job.values():
            s = spans.get(str(j["span"])) if j["span"] is not None else None
            key = key_of(s) if s else span_label(j["span"], spans)
            add(groups.setdefault(key, empty()), j["total"])
        # A pass's wall time is its outermost spans'; a span name's is
        # every instance's.
        for sid, s in spans.items():
            parent = spans.get(str(s["parent"]))
            if a.by == "span" or not parent or parent["pass"] != s["pass"]:
                w = walls.setdefault(key_of(s), dict.fromkeys(TIMES, 0.0))
                for f in TIMES:
                    w[f] += times[sid][f]
            groups.setdefault(key_of(s), empty())

        def line(key, t):
            label = key if isinstance(key, str) or a.by == "span" else f"pass {key}"
            w = walls.get(key)
            return row(label, t, (w["wall_s"], w["idle_s"]) if w else (None, None))
        if a.by == "span":
            for key, t in sorted(groups.items(), key=lambda kv: -kv[1]["run_s"]):
                print(line(key, t))
        else:
            for key, t in sorted(groups.items(), key=lambda kv: (isinstance(kv[0], str), kv[0])):
                print(line(key, t))
    else:
        print(header + f" {'wall_s':>8}")
        for jid, j in per_job.items():
            print(row(f"job {jid} {span_label(j['span'], spans)}", j["total"], (j["wall_s"],)))
            for sid, s in j["stages"].items():
                flag = f" <{slots} slots" if s["under_slots"] else ""
                print(row(f"  stage {sid} {s['name']}", s, (s.get("wall_s"),)) + flag)
    print(row("total", total))
    print(f"CPU-bound stages (CPU/run >= {CPU_BOUND}) on fewer tasks than the {slots} "
          f"task slots: {len(flagged)}")
    for jid, sid, s in flagged:
        label = f"  {span_label(per_job[jid]['span'], spans)} stage {sid} {s['name']}"
        print(row(label, s, (s.get("wall_s"),)))


if __name__ == "__main__":
    sys.exit(main())
