"""Self-test of the benchmark at fixture size.

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes. It checks that
- the input generators are deterministic per seed, and that another seed
  changes paths, document order and planted entities;
- every workload passes its correctness checks at fixture size, and so does
  the traced synth-ckpt pass with its planted decoder errors;
- a corrupted output triple, or an exception thrown from a layer call,
  counts as a failed operation and is never recorded as a time.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

FAILS = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILS.append(what)


def bench(workload, trace=0, inject="none", seconds=6):
    """One fixture run; returns (exit code, artifact)."""
    argv = ["--workload", workload, "--seed", str(run.DEFAULT_SEED),
            "--seconds", str(seconds), "--trace", str(trace),
            "--size", "fixture", "--inject", inject]
    code = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py")] + argv,
                          stdout=subprocess.DEVNULL).returncode
    name = f"{workload}-fixture-seed{run.DEFAULT_SEED}-trace{trace}-{inject}.json"
    path = os.path.join(build.ROOT, ".bench_out", name)
    art = None
    if os.path.exists(path):
        with open(path) as f:
            art = json.load(f)
        os.remove(path)
    return code, art


def main():
    classes = build.build()
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                        "graft.perfbench.InputCheck", "1", "2"])
    expect(r.returncode == 0, "inputs are deterministic per seed")

    for w in run.WORKLOADS:
        code, art = bench(w)
        expect(code == 0 and art and art["correct"] and art["failed"] == 0,
               f"{w}: fixture run is correct")
        if art:
            expect(art["detail"]["triples"].get("digest") is not None,
                   f"{w}: triple digest recorded")
    # the traced pass plants decoder errors that every post-process stage
    # must undo
    code, art = bench("synth-ckpt", trace=1)
    expect(code == 0 and art and art["correct"] and art["failed"] == 0,
           "synth-ckpt: traced fixture run is correct")

    cases = [("docs-x8", 0, "corrupt"), ("docs-x8", 0, "throw"),
             ("synth-ckpt", 0, "corrupt"), ("docs-x8", 1, "throw")]
    for w, trace, inject in cases:
        # long enough for a second, clean operation after the injected one
        code, art = bench(w, trace, inject, seconds=12)
        tag = f"{w} trace={trace} inject={inject}"
        expect(code != 0 and art is not None and not art["correct"],
               f"{tag}: run reported incorrect")
        if art is None:
            continue
        d = art["detail"]
        expect(art["failed"] >= 1 and d["fail_frac"] > 0,
               f"{tag}: fail_frac raised ({art['failed']}/{art['attempted']})")
        timed = d["layer_passes"] + len(d["wall_samples"]) if trace \
            else len(d["wall_samples"])
        expect(timed == art["attempted"] - art["failed"],
               f"{tag}: failed operation not recorded as a time")
        if not trace and art["metrics"]:
            expect(art["metrics"]["ok_frac"]["value"] < 1.0,
                   f"{tag}: ok_frac below 1")
    print(f"{len(FAILS)} failed")
    return 1 if FAILS else 0


if __name__ == "__main__":
    sys.exit(main())
