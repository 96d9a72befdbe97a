#!/usr/bin/env python3
"""Benchmark of graft.app.Pipeline.run, end to end and layer by layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload clean|dirty_wide|rerun \
        --seed N --seconds S --trace 0|1

The first call builds the program and the benchmark from source with sbt
(perfbench/build.sbt); later calls reuse the build while the sources are
unchanged. Each call starts two JVMs in turn:

  prepare   generates the workload's table from the seed, outside any timing,
            and folds RefOracle over the same turns into a small summary;
            for `rerun` it also runs the pipeline once into the output
            directory the measured reruns resume from
  measure   one first run, then warm runs until --seconds have passed (at
            least three), every run checked against the summary; the warm
            metric is the median of the first three

Each JVM's set-up time (spawn to session ready) is one `setup_s` sample;
`setup_s` is their median.
With --trace 0 the last line holds the end-to-end metrics, with --trace 1
the per-layer metrics of a traced run. Every call also writes an artifact
with all samples and the host to perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PROGRAM_SOURCES = REPO / "src" / "main" / "scala"
CLASSPATH_FILE = HERE / "target" / "perfbench-classpath.txt"

# Rows per generated table. A warm Pipeline.run costs about 5 s on a 4-core
# host whatever the size below 60k rows (its ~20 jobs and ~300 output files
# dominate), so the size is chosen for a whole call to stay near a minute;
# it is part of every table name and artifact.
TURNS = 30000
# spark-submit's default driver memory
HEAP = "1g"
# a call must end within 180 s once the build is done
CALL_TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "first_run_s": "s",
    "turns_per_s": "turns/s",
    "peak_heap_mb": "MB",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_passes": "ratio",
    "sources.bytes_read": "bytes",
    "parse.self_s": "s",
    "parse.parsed_share": "ratio",
    "parse.kernel_lines_per_s": "lines/s",
    "route.fanout_s": "s",
    "route.shuffle_bytes": "bytes",
    "route.spill_bytes": "bytes",
    "enrich.domain_dim_s": "s",
    "aggregates.counter_s": "s",
    "aggregates.metrics_shuffle_bytes": "bytes",
    "aggregates.spill_bytes": "bytes",
    "sinks.metrics_s": "s",
    "sinks.relog_s": "s",
    "sinks.rawlogs_s": "s",
    "sinks.bytes_written": "bytes",
    "app.jobs": "count",
    "app.task_cpu_s": "s",
    "app.gc_s": "s",
    "app.core_idle_share": "ratio",
    "app.unattributed_jobs": "count",
}

# the launcher of spark-submit passes these on JDK 17; a plain `java` must too
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in roots:
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """sbt compile of program + benchmark; returns the runtime classpath"""
    if CLASSPATH_FILE.exists():
        stamp, cp = CLASSPATH_FILE.read_text().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    cps = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    CLASSPATH_FILE.write_text(digest + "\n" + cps[-1].strip())
    return cps[-1].strip()


def jvm(cp, work, mode, args, deadline):
    """runs one JVM mode; returns (spawn time, parsed RESULT object)"""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", mode, "--work", str(work)] + args
    log = work / f"{mode}.log"
    spawned = time.time()
    with open(log, "w") as err:
        proc = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                              stderr=err, text=True, timeout=max(1, deadline - spawned))
    results = [l[len("RESULT "):] for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"{mode} JVM failed (exit {proc.returncode})")
    return spawned, json.loads(results[-1])


def host():
    mem = ""
    try:
        mem = next(l.split()[1] + " kB" for l in open("/proc/meminfo") if l.startswith("MemTotal"))
    except OSError:
        pass
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"nproc": os.cpu_count(), "mem_total": mem, "machine": platform.machine(),
            "kernel": platform.release(), "git_sha": sha}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["clean", "dirty_wide", "rerun"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (PROGRAM_SOURCES / "graft" / "app" / "Pipeline.scala").is_file():
        fail(f"program sources not found under {PROGRAM_SOURCES}; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    digest = source_digest()
    cp = build(digest)
    started = time.time()
    deadline = started + CALL_TIMEOUT_S

    work = HERE / "work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--turns", str(TURNS),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        setups = []
        spawned, prep = jvm(cp, work, "prepare", args, deadline)
        setups.append(prep["ready_ms"] / 1e3 - spawned)
        spawned, m = jvm(cp, work, "measure", args, deadline)
        setups.append(m["ready_ms"] / 1e3 - spawned)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = m["attempted"], m["failed"]
    if a.trace == 0:
        values = {
            "setup_s": statistics.median(setups),
            "first_run_s": m["first_run_s"],
            "turns_per_s": m["turns"] / statistics.median(m["warm_s"][:m["warm_runs"]]),
            "peak_heap_mb": m["peak_heap_mb"],
        }
        units = END_TO_END
    else:
        values = {k: m["layers"][k] for k in PER_LAYER}
        units = PER_LAYER
    overhead = None
    if a.trace == 1:
        overhead = statistics.median(m["traced_s"]) / statistics.median(m["untraced_s"]) - 1

    artifact = {
        "benchmark": "perfbench/run.py", "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "turns": m["turns"], "rows": m["rows"],
        "source_digest": digest, "host": host(),
        "jvm": {"heap_max_mb": m["heap_max_mb"], "gc": m["gc"], "java": m["java"],
                "spark": m["spark"], "cores": m["cores"]},
        "expected": prep["expected"], "setup_s_samples": setups,
        "attempted": attempted, "failed": failed, "failures": m["failures"],
        "failed_share": failed / attempted, "trace_overhead_share": overhead,
        "metrics": values, "wall_s": time.time() - started, "measure": m,
    }
    runs = HERE / "runs"
    runs.mkdir(exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json"
    (runs / name).write_text(json.dumps(artifact, indent=1))

    for k, v in values.items():
        print(f"{a.workload} {k} = {v:.6g} {units[k]}")
    print(f"{a.workload} failed_share = {failed / attempted:.6g} ratio ({failed} of {attempted} runs)")
    if overhead is not None:
        print(f"{a.workload} trace_overhead_share = {overhead:.4g} ratio")
    print(f"artifact: perfbench/runs/{name}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
