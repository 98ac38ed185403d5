#!/usr/bin/env python3
"""Per-stage timings of the last action in an uncompressed Spark event log.

    python3 scripts/stage_times.py <event log file or directory>
    python3 scripts/stage_times.py --jobs <event log file or directory>

For each stage of the last action it prints the wall time (submission to
completion), task time (sum of executor run time), GC time, shuffle read
and write, spill and peak execution memory (the largest task's), with
MB = 2^20 bytes. Stages that the action skipped (a reused exchange)
never ran and are not listed.

An action is one root SQL execution: every job whose
`spark.sql.execution.root.id` (else `spark.sql.execution.id`) property
names it, adaptive query stages and subqueries included. The last action
is the one that ran the log's last job.

A directory argument reads the newest log in it; Spark 4 writes a
rolling log directory (`eventlog_v2_<app>/events_<n>_<app>`), read
whole. To log a perfbench run without editing `perfbench/`, pass Spark
the settings through the JVM (SparkConf reads `spark.*` system
properties):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \
      python3 perfbench/run.py --workload docs-x64 --seed 1 --trace 0
    python3 scripts/stage_times.py /tmp/ev

On an untraced run the last action is the last timed `Pipeline.triples`
digest, i.e. the fused path the headline runs. The traced run
(`--trace 1`) times the Dataset-level stage list instead.

With `--jobs` it lists every job of the log instead, in the order the
jobs started: its start (seconds after the log's first job), its SQL
execution id ("-" for a job outside any SQL execution, such as a Parquet
schema-inference or file-listing job, which the per-stage view cannot
show), its wall time (start to end), the tasks it ran (a stage belongs
to the first job that lists it; later jobs skip it) and its call site.
A checkpointed run's jobs are then counted line by line. A stage write
whose plan has no exchange shows as `parquet at TableIO.scala`; adaptive
execution runs each query stage of any other action (a write with an
exchange or a subquery, a digest) as its own job, with a
`CompletableFuture` call site.
"""
import json
import os
import sys

MB = 1024.0 * 1024.0


def log_files(path):
    """The event files of one application log, in order. A directory is
    either a rolling log (its `events_<n>_*` parts) or a log directory,
    whose newest entry is read."""
    if not os.path.isdir(path):
        return [path]
    names = [f for f in os.listdir(path) if not f.startswith(".")]
    parts = [f for f in names if f.startswith("events_")]
    if parts:
        return [os.path.join(path, f) for f in
                sorted(parts, key=lambda f: int(f.split("_")[1]))]
    if not names:
        raise SystemExit(f"stage_times: no event log in {path}")
    return log_files(max((os.path.join(path, f) for f in names),
                         key=os.path.getmtime))


def execution_of(props):
    props = props or {}
    ex = props.get("spark.sql.execution.root.id") or \
        props.get("spark.sql.execution.id")
    return int(ex) if ex not in (None, "") else None


def events(paths):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def read(paths):
    """Per job its execution and stage ids; per stage its last completed
    attempt's info and its tasks' metrics."""
    jobs, stages, tasks = {}, {}, {}
    for e in events(paths):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = (execution_of(e.get("Properties")),
                                 e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tasks.setdefault(e["Stage ID"], []).append(e["Task Metrics"])
    return jobs, stages, tasks


def list_jobs(paths):
    """One line per job, in start order (the `--jobs` mode)."""
    start, end, info, ntasks = {}, {}, {}, {}
    for e in events(paths):
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            j = e["Job ID"]
            start[j] = e.get("Submission Time", 0)
            sites = {s["Stage ID"]: s.get("Stage Name", "")
                     for s in e.get("Stage Infos", [])}
            info[j] = (execution_of(e.get("Properties")),
                       e.get("Stage IDs", []),
                       sites[max(sites)] if sites else "")
        elif kind == "SparkListenerJobEnd":
            end[e["Job ID"]] = e.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            ntasks[e["Stage ID"]] = ntasks.get(e["Stage ID"], 0) + 1
    if not start:
        raise SystemExit(f"stage_times: no job in {paths[0]}")
    owner = {}
    for j in sorted(info):
        for s in info[j][1]:
            owner.setdefault(s, j)
    t0 = min(start.values())
    order = sorted(start, key=lambda j: (start[j], j))
    print(f"# {paths[0]}\n# {len(order)} jobs, "
          f"{sum(1 for j in order if info[j][0] is None)} outside any SQL "
          f"execution")
    print("\t".join(["job", "start_s", "execution", "wall_s", "tasks",
                     "call_site"]))
    for j in order:
        ex, sids, site = info[j]
        wall = (end[j] - start[j]) / 1000.0 if j in end else None
        tasks = sum(ntasks.get(s, 0) for s in sids if owner[s] == j)
        print("\t".join(str(v) for v in [
            j, round((start[j] - t0) / 1000.0, 3),
            "-" if ex is None else ex,
            "-" if wall is None else round(wall, 3), tasks, site]))


def operators(info):
    """The stage's operators, from the scopes of its RDDs (an adaptive
    query stage's own name is a closure name)."""
    names = []
    for rdd in sorted(info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            name = ""
        if name and name not in names:
            names.append(name)
    return ", ".join(names) or info.get("Stage Name", "").split(" at ")[0]


def stage_row(sid, info, metrics):
    def tot(get):
        return sum(get(m) for m in metrics)

    def shuffle_read(m):
        r = m.get("Shuffle Read Metrics", {})
        return r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)

    wall = info.get("Completion Time", 0) - info.get("Submission Time", 0)
    return [
        sid, len(metrics), round(wall / 1000.0, 3),
        round(tot(lambda m: m.get("Executor Run Time", 0)) / 1000.0, 3),
        round(tot(lambda m: m.get("JVM GC Time", 0)) / 1000.0, 3),
        round(tot(shuffle_read) / MB, 2),
        round(tot(lambda m: m.get("Shuffle Write Metrics", {})
                  .get("Shuffle Bytes Written", 0)) / MB, 2),
        round(tot(lambda m: m.get("Disk Bytes Spilled", 0)) / MB, 2),
        round(max([m.get("Peak Execution Memory", 0) for m in metrics]
                  or [0]) / MB, 2),
        operators(info),
    ]


def main():
    args = sys.argv[1:]
    if args[:1] == ["--jobs"] and len(args) == 2:
        return list_jobs(log_files(args[1]))
    if len(args) != 1:
        raise SystemExit(__doc__)
    paths = log_files(args[0])
    jobs, stages, tasks = read(paths)
    ran = [j for j in sorted(jobs) if jobs[j][0] is not None]
    if not ran:
        raise SystemExit(f"stage_times: no SQL action ran a job in {paths[0]}")
    ex = jobs[ran[-1]][0]
    mine = [j for j in ran if jobs[j][0] == ex]
    sids = sorted({s for j in mine for s in jobs[j][1] if s in stages})
    print(f"# {paths[0]}\n# execution {ex}: {len(mine)} jobs, "
          f"{len(sids)} stages")
    print("\t".join(["stage", "tasks", "wall_s", "task_s", "gc_s",
                     "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                     "peak_task_mb", "operators"]))
    for s in sids:
        print("\t".join(str(v) for v in stage_row(s, stages[s],
                                                  tasks.get(s, []))))


if __name__ == "__main__":
    main()
