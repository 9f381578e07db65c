#!/usr/bin/env python3
"""Benchmark of the user-facing entry points: RunPipeline.run (kg_bulk) and
RunCuration.run (curate; its traced run also runs RunMix.run).

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt) and exports the classpath once;
later runs start plain `java` on it, so set-up time excludes sbt.

One run is one fresh JVM (perfbench.Main). Its set-up time runs from launch
until the Spark session is up. It then generates the workload's inputs from
--seed as Parquet (untimed) and runs timed closed-loop passes until --seconds
have elapsed, at least one. Every pass writes into a fresh directory, is
checked, and is deleted. Its output counts must also equal those of the
other passes and of the earlier runs of the same build, workload and seed
(kept in .perfbench/counts/). With --trace 1 the one pass is traced and
followed by the per-layer probes; the spans go to .perfbench/spans/. See
README.md.

The last line of stdout is the result JSON: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (names from BENCHMARK.json).
--record FILE also appends the result, tagged with workload, seed and the
passes' output counts, to FILE for perfbench/compare.py, which also checks
that runs of the same workload and seed agree on the counts.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("kg_bulk", "curate")
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(stamp):
    """Builds with sbt when the sources changed since the last export."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java(cp, args, tmp, timeout):
    # temporary files (e.g. native libraries Spark unpacks) stay in the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + [str(a) for a in args]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        fail(f"JVM exited with {proc.returncode}")
    return t0


def main():
    # a terminated run still stops and waits for its JVM (see java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the tagged result to this JSON-lines file")
    a = ap.parse_args()

    for need in ("src/main/scala/graft/RunPipeline.scala", "src/main/scala/graft/RunCuration.scala",
                 "src/main/scala/graft/RunMix.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    if not os.environ.get("SPARK_HOME"):
        # the build takes Spark's jars from the installation spark-submit is in
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME to the Spark installation")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    stamp = source_stamp()
    cp = classpath(stamp)
    n = cores()
    spans = os.path.join(STATE, "spans", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    res_path = os.path.join(work, "result.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        launched = java(cp, [a.workload, a.seed, work, a.seconds, a.trace, res_path, spans, n],
                        os.path.join(work, "tmp"), JVM_TIMEOUT_S)
        with open(res_path) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    setup_s = r["setup_end_ms"] / 1000.0 - launched
    log(f"setup {setup_s:.2f} s, inputs {r['gen_s']:.1f} s, {len(r['passes'])} passes, "
        f"checks {sum(p['check_s'] for p in r['passes']):.1f} s, ran {time.time() - launched:.1f} s")

    passes = r["passes"]
    counts = [tuple(p["counts"]) for p in passes if not p["errors"]]
    own = max(set(counts), key=counts.count) if counts else None
    # the first run of this build, workload and seed keeps its counts, so that
    # later runs (traced or not) are checked against it as well as each pass
    # against the others
    known = os.path.join(STATE, "counts", f"{a.workload}-seed{a.seed}-{stamp[:16]}.json")
    ref = own
    if own and os.path.exists(known):
        with open(known) as f:
            ref = tuple(json.load(f))
    elif own:
        os.makedirs(os.path.dirname(known), exist_ok=True)
        with open(known, "w") as f:
            json.dump(own, f)
    failed = 0
    for p in passes:
        if not p["errors"] and tuple(p["counts"]) != ref:
            p["errors"].append(f"output counts {p['counts']} differ from other passes' and runs' {list(ref)}")
        if p["errors"]:
            failed += 1
            log(f"failed pass: {'; '.join(p['errors'])}")
    walls = [p["wall_s"] for p in passes]
    wall = statistics.median(walls)
    log(f"settings: local[{n}], -Xms{HEAP} -Xmx{HEAP}; " + " | ".join(r["settings"]))
    log(f"{len(passes)} timed passes; wall_s median {wall:.3f} over {len(walls)} samples "
        f"(min {min(walls):.3f}, max {max(walls):.3f}); counts {list(own) if own else None}")

    if a.trace:
        layers = r["layers"]
        unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    else:
        values = {
            "wall_s": wall,
            "rows_per_s": r["input_rows"] / wall,
            "setup_s": setup_s,
            "peak_rss_mb": r["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    out = {"correct": failed == 0, "attempted": len(passes), "failed": failed, "metrics": metrics}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "counts": list(own) if own else None, **out}) + "\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
