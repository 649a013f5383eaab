"""Fold a Spark event log into a per-job timeline of one job group.

For every job of the group, in submission order: its call site, its start
offset from the group's first job, its duration, the gap before it (time
since the latest end of any earlier job of the group, 0 when they
overlap), the tasks it ran and their executor CPU. Then the group's busy
time (the union of its job intervals) and idle time (the rest of the
span from the first job's start to the last job's end) — the share of a
driver-side call that no Spark job covers.

Stdlib only; reads an uncompressed event log
(``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``),
single-file or rolling.

Run: python scripts/job_timeline.py EVENT_LOG [--group GROUP]
  EVENT_LOG  an event-log file, a rolling log's directory, or a
             directory holding exactly one of either
  --group    the ``spark.jobGroup.id`` to fold; without it, every group is
             listed with its job count
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def log_files(path: str) -> list[str]:
    """The event-log files behind ``path``, in write order."""
    if not os.path.isdir(path):
        return [path]
    names = os.listdir(path)
    rolled = [n for n in names if n.startswith("events_")]
    if rolled:  # events_<index>_<app id>
        rolled.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in rolled]
    if len(names) != 1:
        raise SystemExit(f"expected one event log in {path}, "
                         f"found {len(names)}")
    return log_files(os.path.join(path, names[0]))


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def read_jobs(paths: list[str]) -> dict[str, list[dict]]:
    """Jobs per job group, in submission order: ``{group: [job, ...]}``
    with each job's call site, start/end (s), task count and executor
    CPU (s). A stage's tasks count toward the first job that lists it
    (later jobs list it as skipped)."""
    groups: dict[str, list[dict]] = {}
    by_id: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    for ev in _events(paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or [{}]
            job = {"id": ev["Job ID"],
                   "site": (props.get("callSite.short")
                            or stages[-1].get("Stage Name", "?")),
                   "start": ev["Submission Time"] / 1e3,
                   "end": None, "tasks": 0, "cpu": 0.0}
            by_id[job["id"]] = job
            groups.setdefault(props.get("spark.jobGroup.id") or "",
                              []).append(job)
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in by_id:
            by_id[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            job = stage_job[ev["Stage ID"]]
            job["tasks"] += 1
            job["cpu"] += ((ev.get("Task Metrics") or {})
                           .get("Executor CPU Time", 0) / 1e9)
    return groups


def timeline(jobs: list[dict]) -> tuple[list[dict], float, float]:
    """Per-job rows (offset, duration, gap) plus the busy and idle totals
    of the group's span. A job with no end event (log cut mid-job) ends
    at its start."""
    t0 = min(j["start"] for j in jobs)
    rows, busy, last_end = [], 0.0, t0
    for j in sorted(jobs, key=lambda j: (j["start"], j["id"])):
        end = j["end"] if j["end"] is not None else j["start"]
        gap = max(0.0, j["start"] - last_end)
        busy += max(0.0, end - max(j["start"], last_end))
        last_end = max(last_end, end)
        rows.append({**j, "offset": j["start"] - t0,
                     "duration": end - j["start"], "gap": gap})
    return rows, busy, (last_end - t0) - busy


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("event_log")
    p.add_argument("--group")
    args = p.parse_args(argv)
    groups = read_jobs(log_files(args.event_log))
    if args.group is None:
        for g, jobs in groups.items():
            print(f"{len(jobs):5d}  {g or '(no group)'}")
        return 0
    if args.group not in groups:
        p.error(f"no job of group {args.group!r} in {args.event_log}")
    rows, busy, idle = timeline(groups[args.group])
    print(f"{'job':>5} {'start_s':>8} {'dur_s':>7} {'gap_s':>7} "
          f"{'tasks':>5} {'cpu_s':>7}  call site")
    for r in rows:
        print(f"{r['id']:5d} {r['offset']:8.3f} {r['duration']:7.3f} "
              f"{r['gap']:7.3f} {r['tasks']:5d} {r['cpu']:7.3f}  {r['site']}")
    print(f"jobs {len(rows)}  tasks {sum(r['tasks'] for r in rows)}  "
          f"cpu_s {sum(r['cpu'] for r in rows):.3f}  busy_s {busy:.3f}  "
          f"idle_s {idle:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
