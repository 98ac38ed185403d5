"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload docs-x8 --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program from source (see
build.py), generates the workload's inputs from the seed, measures for the
given seconds, checks the outputs, and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}. --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer ones. The full record of the run,
host context included, goes to .bench_out/. README.md explains the workloads
and the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("docs-x8", "docs-x64", "synth-ckpt")
DEFAULT_SEED = 1
# The heap is fixed: a heap that grows on demand made the resident size
# swing by a third from run to run, and resizing adds pauses.
HEAP = "4g"
# A run is set-up, then operations until --seconds have passed, and the
# last operation overshoots by at most one operation or traced pass. On a
# 4-core host set-up takes 25 to 50 s, and the longest stretch that ignores
# the clock, a traced docs-x64 run's untraced operation and traced pass,
# about 100 s.
SETUP_AND_OVERSHOOT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_between(a, b):
    """Share of CPU time the hypervisor stole between two cpu_times()."""
    d = [y - x for x, y in zip(a, b)]
    return (d[7] / sum(d)) if len(d) > 7 and sum(d) > 0 else 0.0


def steal_share(seconds=0.3):
    """Share of CPU time the hypervisor stole over a short window."""
    a = cpu_times()
    time.sleep(seconds)
    return steal_between(a, cpu_times())


def host_context(cores):
    return {"nproc": cores, "loadavg_before": list(os.getloadavg()),
            "steal_before": steal_share()}


def expected_digest(workload, size, seed):
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f).get(f"{workload}/{size}/{seed}")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # the self-test runs tiny inputs and injects failures
    ap.add_argument("--size", choices=("full", "fixture"), default="full")
    ap.add_argument("--inject", choices=("none", "corrupt", "throw"), default="none")
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    host = host_context(cores)
    print("host: " + json.dumps(host), flush=True)

    work = os.path.join(build.build_dir(), f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jars = build.spark_jars()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--size", a.size, "--inject", a.inject,
              "--work", work, "--cores", str(cores)])
    expect = expected_digest(a.workload, a.size, a.seed)
    if expect:
        cmd += ["--expect", expect]
    limit = SETUP_AND_OVERSHOOT_S + a.seconds
    cpu_before = cpu_times()
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {limit:.0f} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in r.stdout.splitlines():
        if line.startswith("PERFBENCH-RESULT "):
            result = json.loads(line[len("PERFBENCH-RESULT "):])
        else:
            print(line)
    if r.returncode != 0 or result is None:
        print(f"perfbench: benchmark JVM exited with {r.returncode}", file=sys.stderr)
        return 2
    # a short reading misses most steal on a contended host; the share
    # over the whole JVM run is the one to set against the timings
    host.update(steal_run=steal_between(cpu_before, cpu_times()),
                loadavg_after=list(os.getloadavg()), steal_after=steal_share())
    detail = result.pop("detail")
    detail["host"] = host
    detail["default_seed"] = DEFAULT_SEED
    print("detail: " + json.dumps(detail, sort_keys=True), flush=True)
    out_dir = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}-{a.inject}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({**result, "detail": detail}, f, indent=1, sort_keys=True)
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
