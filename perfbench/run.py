#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload curation_analytics --seed 7 --seconds 40 --trace 0

Run from the root of a checkout. The first run builds the library and
the harness with sbt (cached by a hash of the sources); every run then
generates its inputs from ``--seed``, launches the harness JVM once,
checks the outputs against the DuckDB oracle, deletes its private
directories and prints one JSON object as the last line of stdout.
``--trace 1`` reports the per-layer metrics instead of the end-to-end
ones. README.md in this directory describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "perfbench")

# (query, module): module is the graft object that implements the query.
# Both lists are trimmed to fit the run length, keeping at least one
# query per module, and run as one workload; README.md records what was
# left out and why.
CURATION = [
    ("q43_dedup_clusters", "Similarity"),  # MinHash/Jaccard pairs + connected components
    ("q113_lm_perplexity", "Quality"),  # CharLm broadcast memo
    ("q100_substring_dedup", "SpanDedup"),  # gram-class spans
    ("q107_suffix_dedup", "SuffixDedup"),
    ("q47_winnow_fingerprint", "Text"),  # WinnowFingerprints codegen kernel
]
ANALYTICS = [
    ("q1_pricing", "Relational"),  # decimal aggregate
    ("q78_heavy_hitters", "Sketches"),
    ("q71_auto_band_join", "Joins"),  # BandJoinToBinned rewrite
    ("q51_salted_join", "Skew"),
    ("q19_window", "Windows"),
    ("q30_session", "Streaming"),
    ("q70_trailing_window", "TimeSeries"),
    ("q81_upsert", "Mutations"),  # write
    ("q90_compact", "Layout"),  # write
    ("q101_bucketed_join", "Bucketing"),  # write
]
# Per workload: input scale factor and, for emnist_ref, the fixture scale.
WORKLOADS = {
    "emnist_ref": {"mode": "emnist", "sf": 0.001, "scale": 4},
    "curation_analytics": {"mode": "queries", "sf": 0.01, "queries": CURATION + ANALYTICS},
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def heap_size() -> str:
    """The tier-1 heap rule: half the host's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def source_stamp() -> str:
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build() -> tuple:
    """Compile library + harness once per source state; returns the java
    command prefix (options and classpath) and the source stamp."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources next to perfbench/ (run from a full checkout)")
    stamp = source_stamp()
    spec = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    if not (os.path.isfile(spec) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=heap_size())
        with open(os.path.join(STATE, "build.log"), "w") as log:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"],
                               cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
        if r.returncode != 0 or not os.path.isfile(spec):
            fail(f"build failed, see {os.path.join(STATE, 'build.log')}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(spec).read().splitlines()
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    return ["java", f"-Xmx{heap_size()}"] + opts + ["-cp", lines[0]], stamp


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def launch(java: list, args: list, run_dir: str, timeout: float) -> dict:
    """Run the harness JVM; returns its result.json (empty on failure)."""
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    for d in (out, tmp, os.path.join(run_dir, "local")):
        os.makedirs(d, exist_ok=True)
    cmd = java[:1] + [f"-Djava.io.tmpdir={tmp}"] + java[1:] + ["perfbench.Harness"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            print(f"perfbench: harness timed out after {timeout:.0f} s", file=sys.stderr)
    path = os.path.join(out, "result.json")
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
    return json.load(open(path)) if os.path.isfile(path) else {}


def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    detail_dir = os.path.join(STATE, "detail")
    os.makedirs(detail_dir, exist_ok=True)
    java, stamp = build()
    import checks  # reads tools/parity.py, so only once the checkout is known to be whole
    # the harness gets 160 s from here: with the checks after it a run ends
    # within 180 s (a first run in a checkout adds its build before this)
    deadline = time.time() + 160
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        gen.write(data, a.seed, wl["sf"])
        args = ["--mode", wl["mode"], "--data", data, "--out", os.path.join(run_dir, "out"),
                "--local", os.path.join(run_dir, "local"),
                "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--seed", str(a.seed),
                "--scale", str(wl.get("scale", 1))]
        if wl["mode"] == "queries":
            order = [q for q, _ in wl["queries"]]
            random.Random(a.seed).shuffle(order)
            args += ["--queries", ",".join(order)]
        t_gen = time.time()
        res = launch(java, args, run_dir, timeout=deadline - time.time())
        t_jvm = time.time()
        if not res.get("passes"):
            fail("harness produced no result")
        leaked_mb = dir_bytes(os.path.join(run_dir, "tmp")) / 1e6
        if wl["mode"] == "queries":
            check = checks.check_queries(data, os.path.join(run_dir, "out", "check"),
                                         [q for q, _ in wl["queries"]])
        else:
            check = checks.check_emnist(res, wl["scale"])
        traced = None
        if a.trace:
            traced = layers.load_trace(os.path.join(run_dir, "out"))
            for f in ("spans", "jobs", "tasks"):  # the span file outlives the run directory
                shutil.copy(os.path.join(run_dir, "out", f"{f}.jsonl"),
                            os.path.join(detail_dir, f"{a.workload}-seed{a.seed}-{f}.jsonl"))
        t_check = time.time()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report = layers.report(a.workload, a.seed, stamp, wl, res, check, traced, leaked_mb, detail_dir)
    report["detail"]["run_phases_s"] = {"build_and_inputs": t_gen - t_start, "jvm": t_jvm - t_gen,
                                        "checks": t_check - t_jvm, "total": time.time() - t_start}
    detail = os.path.join(detail_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(detail, "w") as f:
        json.dump(report["detail"], f, indent=1, sort_keys=True)
    layers.print_tables(report, sys.stderr)
    print(f"perfbench: detail written to {os.path.relpath(detail, ROOT)}", file=sys.stderr)
    metrics = report["per_layer"] if a.trace else report["end_to_end"]
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
